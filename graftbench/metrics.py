"""Metric arithmetic of the graft benchmark: turns the JVM's run report
(rounds, ops, engine counters, spans) into the end-to-end and per-layer
metrics named in BENCHMARK.json. Pure functions, no I/O."""

import statistics

# name -> unit; must equal BENCHMARK.json's end_to_end / per_layer lists
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
# op_tail_s (s), error_rate (share) and release_s (s) are printed beside
# them but not gated: the tail needs more ops than a fleet-merge or
# ingest-release run holds, the error rate is the result line's
# failed/attempted, and release_s exists on ingest-release only

PER_LAYER = {
    "spark.plan.analysis_s": "s",
    "spark.plan.optimization_s": "s",
    "spark.plan.planning_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "spark.sched.jobs_per_op": "count",
    "spark.sched.stages_per_op": "count",
    "spark.sched.tasks_per_op": "count",
    "spark.sched.task_failures": "count",
    "spark.sched.core_busy_share": "share",
    "spark.sched.cpu_share": "share",
    "spark.shuffle.write_bytes": "bytes",
    "spark.shuffle.read_records": "count",
    "spark.shuffle.fetch_wait_s": "s",
    "spark.mem.spill_bytes": "bytes",
    "spark.mem.peak_exec_mb": "MB",
    "spark.exec.gc_s": "s",
    "spark.cache.bytes_left": "bytes",
    "approach.detect_passes": "count",
    "sinks.merge_s": "s",
    "sinks.rows_written_per_row_merged": "count",
    "streaming.batch_s": "s",
    "streaming.merge_durable_s": "s",
    "streaming.commit_s": "s",
    "streaming.kept_share": "share",
    "streaming.quarantined_lines": "count",
    "release.total_s": "s",
    "release.line_index_s": "s",
    "release.signature_index_s": "s",
    "release.prefix_index_s": "s",
    "release.keeper_map_s": "s",
    "release.manifest_s": "s",
    "trace.overhead_share": "share",
}

TAIL_BEYOND = 10


def tail_latency(latencies):
    """Latency at the highest percentile that still has at least
    TAIL_BEYOND ops strictly beyond it, as (value, percentile, n).
    None when there are too few ops for any such percentile."""
    n = len(latencies)
    if n <= TAIL_BEYOND:
        return None
    xs = sorted(latencies)
    rank = n - TAIL_BEYOND  # 1-based rank of the reported op
    return xs[rank - 1], 100.0 * rank / n, n


def self_times(spans):
    """Per span: its duration minus the durations of its direct
    children (spans whose `parent` is its index), in seconds."""
    child = [0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["end_ns"] - s["start_ns"]
    return [(s["end_ns"] - s["start_ns"] - c) / 1e9 for s, c in zip(spans, child)]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def _op_s(op):
    return (op["end_ns"] - op["start_ns"]) / 1e9


def _round_s(r):
    return (r["end_ns"] - r["start_ns"]) / 1e9


def end_to_end(report, launch_epoch_s):
    """End-to-end metrics over the untraced rounds, plus the readings
    printed beside them (error rate, tail percentile)."""
    rounds = [r for r in report["rounds"] if not r["traced"]]
    ops = [o for o in report["ops"] if not o["traced"]]
    lat = [_op_s(o) for o in ops]
    m = {
        "setup_s": report["first_op_epoch_s"] - launch_epoch_s,
        "wall_s": statistics.median(_round_s(r) for r in rounds),
        "rows_per_s": _ratio(sum(r["input_rows"] for r in rounds),
                             sum(_round_s(r) for r in rounds)),
        "op_p50_s": statistics.median(lat),
        "peak_rss_mb": report["peak_rss_kb"] / 1024.0,
    }
    notes = {"error_rate": _ratio(sum(not o["ok"] for o in ops), len(ops))}
    tail = tail_latency(lat)
    if tail is not None:
        notes["op_tail_s"], notes["op_tail_pct"], notes["op_tail_n"] = tail
    release = [_op_s(o) for o in ops if o["kind"] == "release"]
    if release:
        notes["release_s"] = statistics.median(release)
    return m, notes


def per_layer(report):
    """Per-layer metrics over the traced rounds. A layer the workload
    does not exercise reads 0."""
    traced = [i for i, o in enumerate(report["ops"]) if o["traced"]]
    ops = [report["ops"][i] for i in traced]
    c = [o["counters"] for o in ops]
    spans = report["spans"]
    selfs = self_times(spans)

    def span_mean(name, own=False):
        xs = [selfs[i] if own else (s["end_ns"] - s["start_ns"]) / 1e9
              for i, s in enumerate(spans) if s["name"] == name]
        return _mean(xs)

    def total(key, kind=None):
        return sum(o["counters"][key] for o in ops if kind is None or o["kind"] == kind)

    def per_op(key, scale=1.0):
        return _mean([x[key] for x in c]) * scale

    cores = report["cores"]
    busy_s = sum(x["run_ms"] for x in c) / 1e3
    kinds = {o["kind"] for o in ops}
    batch_rows = sum(o["rows"] for o in ops if o["kind"] == "batch")
    merged = sum(o["extras"].get("merged_rows", 0) for o in ops)
    written = sum(x["output_records"] for o, x in zip(ops, c)
                  if o["kind"] in ("batch", "shard"))
    if "batch" in kinds:
        merge_s = span_mean("sinks.merge")
    else:
        merge_s = _mean([o["extras"]["add_batch_s"] for o in ops
                         if "add_batch_s" in o["extras"]])
    # the first round still carries residual warm-up, so the untraced
    # baseline is the later untraced rounds when there are any
    rounds = report["rounds"]
    wall_u = [_round_s(r) for r in rounds if not r["traced"] and r["index"] > 0] or \
        [_round_s(r) for r in rounds if not r["traced"]]
    wall_t = [_round_s(r) for r in rounds if r["traced"]]
    layer = report.get("layer", {})
    return {
        "spark.plan.analysis_s": per_op("analysis_ms", 1e-3),
        "spark.plan.optimization_s": per_op("optimization_ms", 1e-3),
        "spark.plan.planning_s": per_op("planning_ms", 1e-3),
        "queries.build_s": span_mean("queries.build"),
        "queries.exec_s": span_mean("queries.exec"),
        "spark.sched.jobs_per_op": per_op("jobs"),
        "spark.sched.stages_per_op": per_op("stages"),
        "spark.sched.tasks_per_op": per_op("tasks"),
        "spark.sched.task_failures": total("task_failures"),
        "spark.sched.core_busy_share": _ratio(busy_s, sum(_op_s(o) for o in ops) * cores),
        "spark.sched.cpu_share": _ratio(sum(x["cpu_ns"] for x in c) / 1e9, busy_s),
        "spark.shuffle.write_bytes": per_op("shuffle_write_bytes"),
        "spark.shuffle.read_records": per_op("shuffle_read_records"),
        "spark.shuffle.fetch_wait_s": per_op("fetch_wait_ms", 1e-3),
        "spark.mem.spill_bytes": per_op("spill_bytes"),
        "spark.mem.peak_exec_mb": max([x["peak_exec_bytes"] for x in c], default=0) / 2**20,
        "spark.exec.gc_s": per_op("gc_ms", 1e-3),
        "spark.cache.bytes_left": per_op("cache_bytes_left"),
        "approach.detect_passes": _ratio(total("shuffle_read_records", "batch"), batch_rows),
        "sinks.merge_s": merge_s,
        "sinks.rows_written_per_row_merged": _ratio(written, merged),
        "streaming.batch_s": span_mean("streaming.batch"),
        "streaming.merge_durable_s": span_mean("streaming.merge_durable"),
        "streaming.commit_s": span_mean("streaming.batch", own=True),
        "streaming.kept_share": layer.get("streaming.kept_share", 0.0),
        "streaming.quarantined_lines": layer.get("streaming.quarantined_lines", 0.0),
        "release.total_s": span_mean("op.release"),
        "release.line_index_s": span_mean("release.line_index"),
        "release.signature_index_s": span_mean("release.signature_index"),
        "release.prefix_index_s": span_mean("release.prefix_ordered"),
        "release.keeper_map_s": span_mean("release.keeper_map"),
        "release.manifest_s": span_mean("op.release", own=True),
        "trace.overhead_share": (statistics.median(wall_t) / statistics.median(wall_u) - 1.0
                                 if wall_t and wall_u else 0.0),
    }


def result(report, launch_epoch_s, trace):
    """The benchmark's last output line, as a dict."""
    ops = report["ops"]
    failed = sum(not o["ok"] for o in ops)
    if trace:
        values, units = per_layer(report), PER_LAYER
    else:
        values, units = end_to_end(report, launch_epoch_s)[0], END_TO_END
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items() if k in values},
    }
