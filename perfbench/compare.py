"""Compares benchmark result sets.

A result set is a JSON-lines file written by sweep.py: one line per run,
{"workload", "seed", "trace", "result"}, where "result" is the last line
run.py printed. Directions and bounds come from BENCHMARK.json.

    python3 perfbench/compare.py spread SET
        per workload and end-to-end metric: median, quartiles and the
        spread (q3 - q1) / median against the metric's bound.
    python3 perfbench/compare.py diff BASE CHANGE
        one row per workload: each metric's verdict for CHANGE against
        BASE, with both sides' medians and quartiles and the pairs won.

Verdicts follow the benchmark's rules. A metric is "better" when the
change wins at least nine in ten pairs (runs with the same seed; ties
count for neither) and the medians differ by more than the base's
quartile distance. It is "worse" when the change's median is worse than
the base's by more than the bound. It is "unresolved" when the base's
spread exceeds the bound, unless every run of the change reads better
(or worse) than every run of the base. Otherwise it is "unchanged".
"""

import json
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from metrics import quartiles  # noqa: E402

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load_specs(path=BENCHMARK):
    """{metric: (better, bound)} for the end-to-end metrics."""
    spec = json.loads(Path(path).read_text())
    return {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}


def load_set(path):
    """{workload: {metric: {seed: value}}} from a result set."""
    runs = defaultdict(lambda: defaultdict(dict))
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        run = json.loads(line)
        for name, m in run["result"]["metrics"].items():
            runs[run["workload"]][name][run["seed"]] = m["value"]
    return runs


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med


def verdict(base, change, better, bound):
    """Verdict for one metric. `base` and `change` map seed to value."""
    sign = 1 if better == "higher" else -1
    b, c = list(base.values()), list(change.values())
    bq1, bmed, bq3 = quartiles(b)
    _, cmed, _ = quartiles(c)
    worse_by = sign * (bmed - cmed) / bmed
    seeds = sorted(set(base) & set(change))
    wins = sum(1 for s in seeds if sign * (change[s] - base[s]) > 0)
    if spread(b) > bound:
        if all(sign * (x - y) > 0 for x in c for y in b):
            return "better", wins, len(seeds)
        if all(sign * (x - y) < 0 for x in c for y in b) and worse_by > bound:
            return "worse", wins, len(seeds)
        return "unresolved", wins, len(seeds)
    if seeds and wins >= 0.9 * len(seeds) and sign * (cmed - bmed) > bq3 - bq1:
        return "better", wins, len(seeds)
    if worse_by > bound:
        return "worse", wins, len(seeds)
    return "unchanged", wins, len(seeds)


def _fmt(values):
    q1, med, q3 = quartiles(values)
    return f"{med:.4g} [{q1:.4g}-{q3:.4g}]"


def diff_rows(base, change, specs):
    rows = []
    for workload in sorted(set(base) & set(change)):
        cells = []
        for name, (better, bound) in specs.items():
            b, c = base[workload].get(name), change[workload].get(name)
            if not b or not c:
                continue
            v, wins, n = verdict(b, c, better, bound)
            cells.append(f"{name} {v} ({_fmt(list(b.values()))} -> "
                         f"{_fmt(list(c.values()))}, wins {wins}/{n})")
        rows.append(f"{workload}: " + "; ".join(cells))
    return rows


def spread_rows(runs, specs):
    rows = []
    for workload in sorted(runs):
        cells = []
        for name, (better, bound) in specs.items():
            vals = list(runs[workload].get(name, {}).values())
            if not vals:
                continue
            s = spread(vals)
            cells.append(f"{name} {_fmt(vals)} spread {s:.3f} of bound {bound} "
                         f"({'ok' if s <= bound else 'too wide'}, n={len(vals)})")
        rows.append(f"{workload}: " + "; ".join(cells))
    return rows


def main(argv):
    specs = load_specs()
    if len(argv) == 2 and argv[0] == "spread":
        print("\n".join(spread_rows(load_set(argv[1]), specs)))
    elif len(argv) == 3 and argv[0] == "diff":
        print("\n".join(diff_rows(load_set(argv[1]), load_set(argv[2]), specs)))
    else:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
