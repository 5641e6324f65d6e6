"""Metrics from one run's result and trace files.

End-to-end metrics come from the op timings every run records. Per-layer
metrics come from the trace of a --trace 1 run: spans around the calls
into the engine, the listener's job, stage and task records, SQL
executions and streaming progress. Counters cover the first timed pass
only, so they do not depend on how many passes a run makes.
"""
import os
import statistics

import pyarrow.parquet as pq

UNITS = {
    # end to end
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    # per layer
    "error_rate": "ratio",
    "trace.wall_s": "s",
    "host.steal_share": "ratio",
    "sparkentry.construct_s": "s", "sparkentry.construct_jobs": "count",
    "operators.checkpoint_jobs": "count", "operators.persisted_rdds_peak": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "exec.materialize_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_gap_s": "s",
    "scheduler.single_task_stage_share": "ratio",
    "executor.task_cpu_s": "s", "executor.task_run_s": "s",
    "executor.gc_s": "s", "executor.cpu_util": "ratio",
    "executor.task_skew": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.write_rows": "count",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "storage.spill_bytes": "bytes",
    "zones.rows_read": "count", "zones.rows_written": "count",
    "zones.bytes_written": "bytes", "zones.files_written": "count",
    "zones.write_amplification": "ratio", "zones.staging_write_s": "s",
    "zones.analytical_append_s": "s", "zones.log_append_s": "s",
    "pipeline.etl_run_s": "s", "pipeline.dashboard_s": "s",
    "pipeline.observe_capture_ratio": "ratio", "functions.staging_cpu_s": "s",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.latest_offset_ms": "ms",
}
END_TO_END = ["setup_s", "wall_s", "op_p50_s", "rows_per_s", "peak_rss_mb"]
PER_LAYER = [k for k in UNITS if k not in END_TO_END]


def table_rows(fixture_dir):
    return {name[:-len(".parquet")]:
            pq.ParquetFile(os.path.join(fixture_dir, name)).metadata.num_rows
            for name in os.listdir(fixture_dir) if name.endswith(".parquet")}


# ------------------------------------------------------------ intervals

def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def driver_gap_ms(ops, jobs):
    """Sum over ops of the op time during which no job was running."""
    spans = [(j["t0"], j["t1"]) for j in jobs]
    return sum((o["t1"] - o["t0"]) - covered(spans, o["t0"], o["t1"]) for o in ops)


def self_time_by_layer(spans):
    """Seconds of each layer's spans not covered by their child spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        own = (s["t1"] - s["t0"]) - covered(children.get(s["id"], []), s["t0"], s["t1"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1000.0
    return out


# ------------------------------------------------------------ metrics

def timed(ops):
    return [o for o in ops if o["kind"] != "check"]


def input_records(workload, ops, plan, expect):
    if workload in ("tweet_batch", "tweet_stream"):
        return plan["main"]["records"]
    rows = expect["table_rows"]
    return sum(rows[t] for o in timed(ops) if o["pass"] == 0
               for t in (o.get("result") or {}).get("tables", []))


def end_to_end(workload, res, ops, plan, expect):
    wall = statistics.median(res["pass_ms"]) / 1000.0
    return {
        "setup_s": res["setup_ms"] / 1000.0,
        "wall_s": wall,
        "op_p50_s": statistics.median(
            (o["t1"] - o["t0"]) / 1000.0 for o in timed(ops)),
        "rows_per_s": input_records(workload, ops, plan, expect) / wall,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(workload, tr, res, ops, plan, expect):
    pass0 = [o for o in timed(ops) if o["pass"] == 0]
    lo, hi = min(o["t0"] for o in pass0), max(o["t1"] for o in pass0)
    jobs = [j for j in tr["jobs"] if j["pass"] == "p0"]
    stage_ids, seen = [], set()
    for j in jobs:
        for s in j["stages"]:
            if s not in seen:
                seen.add(s)
                stage_ids.append(s)
    stages_by_id = {s["id"]: s for s in tr["stages"]}
    stages = [stages_by_id[s] for s in stage_ids if s in stages_by_id]

    def stage_sum(key, js=None):
        ids = seen if js is None else {s for j in js for s in j["stages"]}
        return sum(s[key] for s in stages if s["id"] in ids)

    def job_s(pred):
        return sum(j["t1"] - j["t0"] for j in jobs if pred(j)) / 1000.0

    def span_s(name):
        return sum(s["t1"] - s["t0"] for s in tr["spans"]
                   if s["name"] == name and lo <= s["t0"] <= hi) / 1000.0

    execs = [e for e in tr["execs"] if e["pass"] == "p0"]
    progress = [p for p in tr["progress"] if p["pass"] == "p0"]
    wall0 = res["pass_ms"][0] / 1000.0
    task_cpu = stage_sum("cpu_ns") / 1e9
    skews = [s["dur_max_ms"] / s["dur_med_ms"] for s in stages
             if s["tasks"] >= 2 and s["dur_med_ms"] > 0]
    ran = [s for s in stages if s["tasks"] > 0]
    zone_jobs = [j for j in jobs if j["module"] == "zones"]
    observed = sum(1 for e in execs if any(n.startswith("graft_") for n in e["observed"]))
    fallback = sum(1 for j in jobs if j["short"].startswith("count at Observe.scala"))
    bytes_written = sum(e["bytes"] for e in execs)
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for e in execs:
        for k in phases:
            phases[k] += e["phases_ms"].get(k, 0.0)
    for o in pass0:
        for k in phases:
            phases[k] += (o.get("result") or {}).get("phases_ms", {}).get(k, 0.0)

    def progress_ms(key):
        return sum(p["durations_ms"].get(key, 0.0) for p in progress)

    m = {
        "error_rate": sum(1 for o in ops if not o["ok"]) / len(ops),
        "trace.wall_s": statistics.median(res["pass_ms"]) / 1000.0,
        "host.steal_share": res["steal_share"],
        "sparkentry.construct_s": span_s("construct"),
        "sparkentry.construct_jobs": sum(1 for j in jobs if j["phase"] == "construct"),
        "operators.checkpoint_jobs": sum(
            1 for j in jobs if j["short"].startswith(("localCheckpoint ", "checkpoint "))),
        "operators.persisted_rdds_peak": max([j["persisted"] for j in jobs] or [0]),
        "catalyst.analysis_ms": phases["analysis"],
        "catalyst.optimization_ms": phases["optimization"],
        "catalyst.planning_ms": phases["planning"],
        "exec.materialize_s": span_s("materialize"),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(ran),
        "scheduler.tasks": sum(s["tasks"] for s in stages),
        "scheduler.driver_gap_s": driver_gap_ms(pass0, jobs) / 1000.0,
        "scheduler.single_task_stage_share":
            sum(1 for s in ran if s["tasks"] == 1) / len(ran) if ran else 0.0,
        "executor.task_cpu_s": task_cpu,
        "executor.task_run_s": stage_sum("run_ms") / 1000.0,
        "executor.gc_s": stage_sum("gc_ms") / 1000.0,
        "executor.cpu_util": task_cpu / (wall0 * tr["cores"]),
        "executor.task_skew": statistics.median(skews) if skews else 1.0,
        "shuffle.write_bytes": stage_sum("sw_bytes"),
        "shuffle.write_rows": stage_sum("sw_rows"),
        "shuffle.read_bytes": stage_sum("sr_bytes"),
        "shuffle.fetch_wait_s": stage_sum("fetch_wait_ms") / 1000.0,
        "storage.spill_bytes": stage_sum("spill_bytes"),
        "zones.rows_read": stage_sum("in_rows", zone_jobs),
        "zones.rows_written": sum(e["rows"] for e in execs),
        "zones.bytes_written": bytes_written,
        "zones.files_written": sum(e["files"] for e in execs),
        "zones.write_amplification":
            bytes_written / expect["bytes"] if expect.get("bytes") else 0.0,
        "zones.staging_write_s": job_s(lambda j: j["method"] == "Zones.writeStaging"),
        "zones.analytical_append_s": job_s(lambda j: j["method"] == "Zones.appendAnalytical"),
        "zones.log_append_s": job_s(lambda j: j["method"] == "Zones.appendLog"),
        "pipeline.etl_run_s": span_s("EtlJob.run"),
        "pipeline.dashboard_s": span_s("dashboard"),
        "pipeline.observe_capture_ratio":
            observed / (observed + fallback) if observed + fallback else 0.0,
        "functions.staging_cpu_s": stage_sum(
            "cpu_ns", [j for j in jobs if j["method"] == "Zones.writeStaging"]) / 1e9,
        "streaming.batches": len(progress),
        "streaming.add_batch_ms": progress_ms("addBatch"),
        "streaming.query_planning_ms": progress_ms("queryPlanning"),
        "streaming.wal_commit_ms": progress_ms("walCommit"),
        "streaming.commit_offsets_ms": progress_ms("commitOffsets"),
        "streaming.latest_offset_ms": progress_ms("latestOffset"),
    }
    assert list(m) == PER_LAYER, "per-layer metric list out of step with UNITS"
    return m
