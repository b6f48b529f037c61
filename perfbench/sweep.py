"""Runs the benchmark over seeds and workloads and appends each run's
result line to a result set (JSON lines) for compare.py.

    python3 perfbench/sweep.py OUT.jsonl [--seeds 1-10] [--trace 0]
        [--workloads etl_daily,crawl_frontier] [--seconds N]

Workloads and seconds default to BENCHMARK.json. Runs go one at a time,
in seed order, workloads alternating within a seed.
"""

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    p = argparse.ArgumentParser(description="Run the benchmark over seeds.")
    p.add_argument("out")
    p.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    p.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    a = p.parse_args(argv)
    failures = 0
    for seed in a.seeds:
        for w in a.workloads.split(","):
            t = time.time()
            done = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)],
                stdout=subprocess.PIPE, text=True)
            lines = done.stdout.strip().splitlines()
            if done.returncode != 0 or not lines:
                failures += 1
                print(f"{w} seed {seed}: exit {done.returncode}", file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace,
                                    "wall_s": round(time.time() - t, 1), "result": result}) + "\n")
            print(f"{w} seed {seed}: correct={result['correct']} "
                  f"wall {time.time() - t:.0f} s", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
