"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 25 --trace 0

Builds the engine and the driver from source when needed (build.py),
runs one workload for one seed as a closed loop with one caller on
local[<cores>], checks every result against the generator, and prints
the metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). The lines
before it print the same metrics by name with their units, plus details
that not every workload has. The run record, with every span of a
traced run, is kept in .bench_build/perfbench/runs/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_daily", "crawl_frontier", "curation_pipeline")
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def parse_args(argv):
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args(argv)
    if not 1 <= a.seconds <= 600:
        p.error("--seconds must be between 1 and 600")
    return a


def run_jvm(a, classpath):
    """Runs perfbench.Main; returns the run record."""
    out = build.OUT / "runs"
    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out.mkdir(parents=True, exist_ok=True)
    record = out / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    log = out / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    record.unlink(missing_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), str(work), str(record), str(int(time.time() * 1000))]
    proc = None

    def stop(signum, frame):
        raise RuntimeError(f"stopped by signal {signum}")

    try:
        # the JVM runs in its own process group; a timeout or a signal to
        # this process kills the group and waits for it
        signal.signal(signal.SIGTERM, stop)
        with open(log, "w") as logf:
            proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise RuntimeError(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not record.exists():
        tail = log.read_text().splitlines()[-25:]
        raise RuntimeError(f"run failed with exit code {code}; log {log}:\n" + "\n".join(tail))
    return json.loads(record.read_text())


def main(argv):
    a = parse_args(argv)
    try:
        engine, bench, jars = build.ensure_built()
        rec = run_jvm(a, os.pathsep.join([str(bench), str(engine), f"{jars}/*"]))
    except (build.BuildError, RuntimeError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    errors = [e for o in rec["ops"] for e in o["errors"]]
    errors += rec["setup_errors"] + rec["final_errors"]
    for e in errors[:20]:
        print(f"check failed: {e}")
    e2e, details = metrics.end_to_end(rec)
    if a.trace:
        layer, extra = metrics.per_layer(rec)
        shown = {k: (v, metrics.unit(k)) for k, v in layer.items()}
        details.update(extra)
    else:
        shown = e2e
    print(f"{a.workload} seed {a.seed}: {len(rec['ops'])} operations in "
          f"{rec['timed_s']:.1f} s on local[{rec['cores']}], "
          f"{details['input_records']} input records")
    for k, (v, u) in shown.items():
        print(f"  {k:38s} {v:14.6g} {u}")
    for k, v in details.items():
        print(f"  {k:38s} {v}")
    failed = sum(1 for o in rec["ops"] if o["errors"])
    print(json.dumps({
        "correct": not errors,
        "attempted": len(rec["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
