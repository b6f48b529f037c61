"""Turns a run record written by perfbench.Main into the benchmark's
metrics: the end-to-end metrics of an untraced run and the per-layer
metrics of a traced run. See README.md for what each metric means."""

import math
import statistics

# The primary operation of each workload: op_p50_s and
# trace_overhead_ratio are about this kind.
PRIMARY = {"etl_daily": "dayScan", "crawl_frontier": "ingestBatch",
           "curation_pipeline": "prepare"}

# Spans the benchmark opens around the call that returns a frame, the
# planning of that frame, and the action that executes it.
BUILD_SPANS = {"MonarchPipeline.readOccurrences", "TrainingPipeline.prepareMetered"}
PLAN_SPANS = {"QueryExecution.executedPlan"}
EXEC_SPANS = {"Ingest.toJsonRecords", "noop sink"}

# TrainingPipeline's job labels and the slugs their stage times go by.
STAGE_LABELS = {
    "scrub+gate": "scrub_gate", "exact-dedup": "exact_dedup",
    "near-dup pairs": "near_dup_pairs", "stage meters": "stage_meters",
    "exact-substr scrub": "exact_substr", "wordpiece fit+count": "wordpiece",
    "split-leak meter": "split_leak_meter"}

MIN_BEYOND = 10


def nearest_rank(sorted_values, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    n = len(sorted_values)
    return sorted_values[max(0, math.ceil(round(p / 100 * n, 9)) - 1)]


def tail(values, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, n), or None when there are too few samples."""
    xs = sorted(values)
    for p in candidates:
        if math.floor(len(xs) * (1 - p / 100) + 1e-9) >= MIN_BEYOND:
            return p, nearest_rank(xs, p), len(xs)
    return None


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(rec):
    """The end-to-end metrics of an untraced run, plus details that not
    every workload has (printed, not bound-checked)."""
    ops = rec["ops"]
    primary = [o["seconds"] for o in ops if o["kind"] == PRIMARY[rec["workload"]]]
    reads = [o["seconds"] for o in ops if o["kind"] == "read"]
    d = rec["detail"]
    metrics = {
        "setup_s": (rec["setup_s"], "s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / sum(o["seconds"] for o in ops), "1/s"),
        "op_p50_s": (statistics.median(primary), "s"),
    }
    if d.get("stored_bytes"):
        metrics["bytes_stored_per_input_byte"] = (d["stored_bytes"] / d["input_bytes"], "B/B")
    details = {"input_records": d["input_records"], "operations": len(primary)}
    if reads:
        details["read_p50_s"] = statistics.median(reads)
    for name, xs in (("op", primary), ("read", reads)):
        t = tail(xs)
        if xs:
            details[f"{name}_tail_s"] = (
                {"value": t[1], "percentile": t[0], "n": t[2]} if t
                else f"omitted: {len(xs)} samples, a tail needs {2 * MIN_BEYOND}")
    failed = sum(1 for o in ops if o["errors"])
    details["failed_ratio"] = failed / len(ops)
    return metrics, details


def per_layer(rec):
    """The per-layer metrics of a traced run: totals over the traced
    operations divided by their number, unless the name says otherwise."""
    ops = rec["ops"]
    tr = rec["trace_record"]
    kind = PRIMARY[rec["workload"]]
    traced = [o for o in ops if o["traced"]]
    ids = {o["op"] for o in traced}
    primary_ids = {o["op"] for o in traced if o["kind"] == kind}
    spans = tr["spans"]
    roots = {s["op"]: s for s in spans if s["parent"] < 0}
    jobs = [j for j in tr["jobs"] if j["op"] in ids]
    n = len(traced)

    def wall(s):
        return s["end_s"] - s["start_s"]

    def self_time(s):
        return wall(s) - sum(wall(c) for c in spans if c["parent"] == s["id"])

    def span_mean(names, fn=wall):
        xs = [fn(s) for s in spans if s["name"] in names]
        return _mean(xs)

    def job_sum(key, op_ids=ids):
        return sum(j["counters"].get(key, 0) for j in jobs if j["op"] in op_ids)

    def root_sum(key, op_ids=ids):
        return sum(roots[o]["counters"].get(key, 0) for o in op_ids if o in roots)

    sql = [q for q in tr["sql"] if q["op"] in ids]
    blocks = {b["op"]: b for b in tr["blocks"]}
    d = rec["detail"]
    primary_ops = [o for o in ops if o["kind"] == kind]
    m = {
        "driver.build_s": span_mean(BUILD_SPANS),
        "driver.plan_s": span_mean(PLAN_SPANS),
        "driver.exec_s": span_mean(EXEC_SPANS),
        "driver.plan_nodes": _mean([roots[o]["counters"]["plan_nodes"] for o in ids
                                    if "plan_nodes" in roots[o]["counters"]]),
        "spark.jobs": len(jobs) / n,
        "spark.stages": job_sum("stages") / n,
        "spark.tasks": job_sum("tasks") / n,
        "spark.busy_ratio": job_sum("run_ms") / 1000
        / (sum(wall(roots[o]) for o in ids) * rec["cores"]),
        "spark.shuffle_write_bytes": job_sum("shuffle_write_bytes") / n,
        "spark.shuffle_read_bytes": job_sum("shuffle_read_bytes") / n,
        "spark.spill_bytes": job_sum("spill_bytes") / n,
        "spark.failed_sql": sum(1 for q in sql if q["failed"]) / n,
        "sources.roundrobin_exchanges": sum(q["roundrobin_exchanges"] for q in sql) / n,
        "operators.probe_rows_read_per_url": (
            job_sum("records_read", primary_ids)
            / sum(o["rows"] for o in traced if o["op"] in primary_ids)
            if kind == "ingestBatch" else 0.0),
        "operators.components_rounds": len({(j["op"], j["desc"]) for j in jobs
                                            if (j["desc"] or "").startswith("connectedComponents: round")}) / n,
        "plans.checkpoints": sum(blocks[o]["rdds"] for o in ids if o in blocks) / n,
        "plans.checkpoint_bytes": sum(blocks[o]["bytes"] for o in ids if o in blocks) / n,
        "pipeline.dayScan_s": span_mean({"MonarchPipeline.dayScan"}, self_time),
        "pipeline.inventoryBackfill_s": span_mean({"MonarchPipeline.inventoryBackfill"}, self_time),
        "pipeline.prepareMetered_s": span_mean({"TrainingPipeline.prepareMetered"}, self_time),
    }
    prepare_jobs = [j for j in jobs if j["op"] in primary_ids] if kind == "prepare" else []
    for label, slug in STAGE_LABELS.items():
        m[f"pipeline.stage.{slug}_s"] = sum(
            (j["end_ms"] - j["start_ms"]) / 1000 for j in prepare_jobs
            if j["desc"] == f"TrainingPipeline: {label}") / max(len(primary_ids), 1)
    primary_jobs = [j for j in jobs if j["op"] in primary_ids]
    m["pipeline.unlabelled_job_share"] = (
        sum(1 for j in primary_jobs if not j["desc"] or j["desc"].startswith("perfbench "))
        / len(primary_jobs) if primary_jobs else 0.0)
    writes = len(primary_ops) if kind in ("dayScan", "ingestBatch") else 0
    m.update({
        "streaming.ingestBatch_s": span_mean({"FrontierIngest.ingestBatch"}, self_time),
        "streaming.fs_write_ops": (root_sum("fs.write_ops", primary_ids) / len(primary_ids)
                                   if kind == "ingestBatch" else 0.0),
        "streaming.index_files": float(d.get("index_files", 0)),
        "sinks.files_written": d.get("files_written", 0) / writes if writes else 0.0,
        "sinks.bytes_written": root_sum("fs.bytes_written", primary_ids) / len(primary_ids)
        if writes else 0.0,
        "sinks.files_per_partition": (d["warehouse_files"] / d["partitions"]
                                      if d.get("partitions") else 0.0),
        "session.leaks": sum(1 for o in ids if roots[o]["leaks"]) / n,
        "jvm.gc_s": root_sum("jvm.gc_ms") / 1000 / n,
        "jvm.heap_peak_mb": max(roots[o]["counters"]["jvm.heap_peak_bytes"] for o in ids) / 2**20,
    })
    untraced = [o["seconds"] for o in ops if o["kind"] == kind and not o["traced"]]
    traced_s = [o["seconds"] for o in traced if o["kind"] == kind]
    m["trace_overhead_ratio"] = _mean(untraced) / _mean(traced_s) if untraced and traced_s else 1.0
    leaks = sorted({k for o in ids for k in roots[o]["leaks"]})
    return m, {"traced_operations": n, "leak_kinds": leaks}


def unit(name):
    if name == "session.leaks":
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if "bytes" in name:
        return "B"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"
