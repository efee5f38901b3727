"""Reduction of one run's raw samples (written by the JVM) to the metrics
the benchmark reports. Pure functions, no I/O — `tests/test_metrics.py`
covers the arithmetic: percentiles under the sample-count rule,
whole-cycle trimming, failure counting and self time.
"""
import math
import statistics

# A percentile is reported only when at least this many samples of the
# run lie beyond it (above it, for the upper percentiles used here).
MIN_BEYOND = 10

END_TO_END = [
    # name, unit
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("read_p50_ms", "ms"),
    ("cpu_ms_per_op", "ms"),
    ("rss_peak_mb", "MB"),
    ("heap_live_mb", "MB"),
]


class UnsupportedPercentile(ValueError):
    """Too few samples beyond the requested percentile."""


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked strictly above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p * n))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile, refused unless MIN_BEYOND samples lie
    beyond it (p50 needs 20 samples, p90 needs 100)."""
    n = len(values)
    if n == 0 or samples_beyond(n, p) < MIN_BEYOND:
        raise UnsupportedPercentile(
            f"p{round(p * 100)} of {n} samples leaves "
            f"{samples_beyond(n, p) if n else 0} beyond it; {MIN_BEYOND} required")
    return sorted(values)[max(1, math.ceil(p * n)) - 1]


def whole_cycles(ops, complete):
    """Ops of the cycles that ran to their end; a cycle cut by the
    deadline is dropped whole, so the op mix behind a median is fixed."""
    done = set(complete)
    return [o for o in ops if o["cycle"] in done]


def failure_count(ops, gates):
    """(attempted, failed): every executed op and every end gate is an
    attempt; a thrown op, a result that differs from the model and a
    failed gate each count once."""
    attempted = len(ops) + len(gates)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for g in gates if not g["ok"])
    return attempted, failed


def covered(intervals, lo, hi) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children) -> float:
    """A span's duration minus the time its children cover; overlapping
    children count once and are clipped to the span."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)


def _ms(o):
    return (o["t1"] - o["t0"]) / 1e6


def end_to_end(raw, setups):
    """Metrics of an untraced run. `setups` are the run's setup times."""
    timed = raw["timed"]
    whole = whole_cycles(raw["ops"], timed["complete_cycles"])
    if not whole:
        raise UnsupportedPercentile("no whole cycle completed in the timed phase")
    last = max(whole, key=lambda o: o["t1"])
    wall_s = last["t1"] / 1e9  # op times count from the timed phase's start
    primary = [_ms(o) for o in whole if o["primary"]]
    reads = [_ms(o) for o in whole if o["read"]]
    return {
        "setup_s": statistics.median(setups),
        "ops_per_s": len(whole) / wall_s,
        "latency_p50_ms": percentile(primary, 0.5),
        "read_p50_ms": percentile(reads, 0.5),
        "cpu_ms_per_op": (last["cpu1"] - timed["cpu0"]) / 1e6 / len(whole),
        "rss_peak_mb": raw["rss_peak_mb"],
        "heap_live_mb": raw["heap_live_mb"],
    }


# Per-layer metrics of the traced phase: (name, unit, reduction). Unless
# the reduction says otherwise a metric is its counter summed over the
# traced ops, divided by the number of traced ops.
PER_LAYER = [
    ("sources.latest_offset_ms", "ms", "per_op"),
    ("sources.report_latest_ms", "ms", "per_op"),
    ("sources.plan_ms", "ms", "per_op"),
    ("sources.reader_open_ms", "ms", "per_op"),
    ("sources.records_admitted", "count", "per_op"),
    ("sources.bytes_scanned", "B", "per_op"),
    ("sources.read_amplification", "ratio", "read_amplification"),
    ("sources.lag_records", "count", "mean_over:step"),
    ("stream.triggers", "count", "per_op"),
    ("stream.trigger_ms", "ms", "per_op"),
    ("stream.latest_offset_ms", "ms", "per_op"),
    ("stream.query_planning_ms", "ms", "per_op"),
    ("stream.add_batch_ms", "ms", "per_op"),
    ("stream.wal_commit_ms", "ms", "per_op"),
    ("stream.commit_offsets_ms", "ms", "per_op"),
    ("stream.wait_ms", "ms", "stream_wait"),
    ("lake.merge_ms", "ms", "latency:merge_star,merge_clause"),
    ("lake.update_ms", "ms", "latency:update"),
    ("lake.delete_ms", "ms", "latency:delete"),
    ("lake.maintenance_ms", "ms", "latency:purgeDv,compact"),
    ("lake.read_ms", "ms", "latency:read,read_range,read_eq"),
    ("lake.manifest_read_ms", "ms", "per_op"),
    ("lake.driver_self_ms", "ms", "driver_self"),
    ("lake.commits_per_op", "count", "per_op:lake.commits"),
    ("lake.segments_rewritten", "count", "per_op"),
    ("lake.bytes_written_per_op", "B", "per_op:lake.bytes_written"),
    ("lake.files_live", "count", "fact"),
    ("lake.dv_rows_live", "count", "fact"),
    ("lake.bytes_per_row", "B", "fact"),
    ("lake.read_files_scanned", "count", "per_read"),
    ("lake.prune_ratio", "ratio", "prune_ratio"),
    ("catalyst.analysis_ms", "ms", "per_op"),
    ("catalyst.optimization_ms", "ms", "per_op"),
    ("catalyst.planning_ms", "ms", "per_op"),
    ("query.build_ms", "ms", "per_op"),
    ("query.action_ms", "ms", "per_op"),
    ("codegen.compiles_per_op", "count", "per_op:codegen.compiles"),
    ("codegen.compile_ms_per_op", "ms", "per_op:codegen.compile_ms"),
    ("spark.jobs_per_op", "count", "per_op:spark.jobs"),
    ("spark.stages_per_op", "count", "per_op:spark.stages"),
    ("spark.tasks_per_op", "count", "per_op:spark.tasks"),
    ("spark.job_ms", "ms", "per_op"),
    ("spark.task_run_ms", "ms", "per_op"),
    ("spark.task_cpu_ms", "ms", "per_op"),
    ("spark.task_deser_ms", "ms", "per_op"),
    ("spark.task_overhead_ms", "ms", "per_op"),
    ("spark.shuffle_bytes", "B", "per_op"),
    ("spark.input_bytes", "B", "per_op"),
    ("spark.output_bytes", "B", "per_op"),
    ("spark.spill_bytes", "B", "per_op"),
    ("jvm.gc_ms", "ms", "per_op"),
    ("jvm.gc_count", "count", "per_op"),
    ("trace.overhead_pct", "%", "overhead"),
]

# Per-layer metrics that read 0 on a workload because it never exercises
# them: workload -> [(metric-name prefixes, reason)].
ABSENT = {
    "kinesis_tail": [(("lake.merge_ms", "lake.update_ms", "lake.delete_ms",
                       "lake.maintenance_ms"), "kinesis_tail issues no SQL DML"),
                     (("lake.dv_rows_live",), "the ingest writes no deletion vectors"),
                     (("query.",), "only query_mix runs query closures")],
    "lake_upsert": [(("sources.", "stream."), "lake_upsert bypasses the source and streaming"),
                    (("lake.dv_rows_live",), "deletion vectors are off unless --mor"),
                    (("query.",), "only query_mix runs query closures")],
    "query_mix": [(("sources.", "stream.", "lake."),
                   "query_mix bypasses the source and every lake verb")],
}


def absent_layers(workload):
    """(metric, reason) for per-layer metrics the workload never exercises."""
    return [(n, why) for n, _, _ in PER_LAYER for pre, why in ABSENT[workload]
            if n.startswith(pre)]


LAKE_KINDS = {"merge_star", "merge_clause", "update", "delete", "purgeDv",
              "compact", "read", "read_range", "read_eq"}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tracing_overhead_pct(untraced, traced) -> float:
    """Geometric mean over op kinds run in both halves of (traced mean
    latency / untraced mean latency), as a percentage above 1."""
    def by_kind(ops):
        out = {}
        for o in ops:
            out.setdefault(o["kind"], []).append(_ms(o))
        return {k: _mean(v) for k, v in out.items()}
    u, t = by_kind(untraced), by_kind(traced)
    ratios = [t[k] / u[k] for k in u if k in t and u[k] > 0]
    if not ratios:
        return 0.0
    return (math.exp(_mean([math.log(r) for r in ratios])) - 1.0) * 100.0


def per_layer(raw):
    """Metrics of a traced run's traced cycles (every second cycle)."""
    complete = raw["timed"]["complete_cycles"]
    u_ops = whole_cycles([o for o in raw["ops"] if not o["traced"]], complete)
    t_all = [o for o in raw["ops"] if o["traced"]]
    t_ops = whole_cycles(t_all, complete) or t_all
    if not t_ops:
        raise UnsupportedPercentile("no op ran in the traced phase")
    n = len(t_ops)

    def total(key):
        return sum(o["c"].get(key, 0.0) for o in t_ops)

    spans = raw.get("spans", [])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def jobs_under(sid):
        out, stack = [], list(children.get(sid, []))
        while stack:
            s = stack.pop()
            if s["kind"] == "job":
                out.append((s["t0"], s["t1"]))
            else:
                stack.extend(children.get(s["id"], []))
        return out

    op_spans = [s for s in spans if s["kind"] == "op" and s["name"] in LAKE_KINDS]
    facts = raw.get("end_facts", {})
    out = {}
    for name, _unit, how in PER_LAYER:
        if how == "per_op":
            v = total(name) / n
        elif how.startswith("per_op:"):
            v = total(how.split(":", 1)[1]) / n
        elif how.startswith("latency:"):
            kinds = set(how.split(":", 1)[1].split(","))
            v = _mean([_ms(o) for o in t_ops if o["kind"] in kinds])
        elif how.startswith("mean_over:"):
            kind = how.split(":", 1)[1]
            v = _mean([o["c"].get(name, 0.0) for o in t_ops if o["kind"] == kind])
        elif how == "per_read":
            v = _mean([o["c"].get(name, 0.0) for o in t_ops if o["read"]])
        elif how == "read_amplification":
            adm = total("sources.bytes_admitted")
            v = total("sources.bytes_scanned") / adm if adm else 0.0
        elif how == "stream_wait":
            steps = [o for o in t_ops if o["kind"] == "step"]
            v = _mean([_ms(o) - o["c"].get("stream.trigger_ms", 0.0) for o in steps])
        elif how == "driver_self":
            v = _mean([self_time((s["t0"], s["t1"]), jobs_under(s["id"])) / 1000.0
                       for s in op_spans])
        elif how == "prune_ratio":
            tot = total("lake.read_segments_total")
            v = 1.0 - total("lake.read_segments_scanned") / tot if tot else 0.0
        elif how == "fact":
            v = facts.get(name, 0.0)
        elif how == "overhead":
            v = tracing_overhead_pct(u_ops, t_ops)
        else:
            raise ValueError(f"unknown reduction {how}")
        out[name] = v
    return out
