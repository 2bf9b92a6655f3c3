"""Per-layer metrics of a traced round.

In a traced round the public functions below are wrapped, from
outside, in a span named after their layer (the package module), so a
call made anywhere, including inside a foreachBatch function, is
recorded. Spark jobs are attributed to the innermost span: by job group
where the span tagged one, otherwise by submission time.
"""

from __future__ import annotations

import functools
import importlib
import statistics

from collectors import union_length

PKG = "pyspark_etl_project_spark"
WRAPPED = [
    ("sources.csv_source", "read_csv_tickets", "sources"),
    ("sources.json_source", "read_json_interactions", "sources"),
    ("sources.xml_source", "parse_xml_records", "sources"),
    ("pipelines.csv_pipeline", "csv_transform", "pipelines"),
    ("pipelines.json_pipeline", "json_transform", "pipelines"),
    ("pipelines.xml_pipeline", "xml_transform", "pipelines"),
    ("pipelines.common", "run_load", "pipelines"),
    ("operators.scd2", "write_mart", "operators.scd2"),
    ("streaming.ingest", "foreach_batch_scd2", "streaming.ingest"),
]

# Every per-layer metric, with its unit (BENCHMARK.json lists the same).
UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.build_s": "s",
    "pipelines.build_s": "s", "pipelines.build_jobs": "count",
    "operators.scd2.write_s": "s", "operators.scd2.rows_written": "count",
    "operators.scd2.bytes_written": "bytes",
    "operators.scd2.rewrite_ratio": "ratio",
    "operators.audit.s": "s",
    "streaming.ingest.add_batch_s": "s",
    "streaming.ingest.trigger_overhead_s": "s",
    "streaming.ingest.jobs_per_batch": "count",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.exec_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "extensions.exec_s": "s", "extensions.python_worker_rss_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "CPU-s", "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "driver.gap_s": "s", "process.peak_rss_mb": "MB", "trace.overhead_s": "s",
}


def wrap_public_functions(spans):
    """Wrap each function of WRAPPED in a span; returns the undo."""
    saved = []
    for mod_name, attr, layer in WRAPPED:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        fn = getattr(mod, attr)
        setattr(mod, attr, _spanned(spans, fn, layer))
        saved.append((mod, attr, fn))

    def restore():
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
    return restore


def _spanned(spans, fn, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with spans.span(layer, fn=fn.__name__):
            return fn(*args, **kwargs)
    return wrapper


def _attribute(jobs: list[dict], spans: list[dict]) -> None:
    """Set job['span'] to the span that launched it (or None)."""
    by_group = {f"perfbench-{s['id']}": s for s in spans if s.get("tagged")}
    for j in jobs:
        span = by_group.get(j["group"])
        if span is None and j["start"] is not None:
            inside = [s for s in spans
                      if s["start"] <= j["start"] <= s["end"]]
            span = max(inside, key=lambda s: s["start"], default=None)
        j["span"] = span


def _under(span, name: str, spans_by_id: dict) -> bool:
    while span is not None:
        if span["name"] == name:
            return True
        span = spans_by_id.get(span["parent"])
    return False


def round_metrics(rnd: dict) -> dict:
    spans, jobs = rnd["spans"], rnd["jobs"]
    by_id = {s["id"]: s for s in spans}
    _attribute(jobs, spans)

    def dur(name, pred=lambda s: True):
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and pred(s))

    def jobs_under(name):
        return [j for j in jobs if _under(j["span"], name, by_id)]

    def stage_sum(js, key):
        return sum(st[key] for j in js for st in j["stages"])

    writes = jobs_under("operators.scd2")
    rows_written = stage_sum(writes, "output_records")
    fresh = sum(op.fresh for op in rnd["ops"])
    progress = rnd["progress"]
    n_batches = len(progress)
    add_batch = sum(b["duration_ms"].get("addBatch", 0) for b in progress)
    trigger = sum(b["duration_ms"].get("triggerExecution", 0) for b in progress)
    ops = [s for s in spans if s["name"] == "op"]
    intervals = [(j["start"], j["end"]) for j in jobs
                 if j["start"] is not None and j["end"] is not None]
    gap = 0.0
    for op in ops:
        gap += (op["end"] - op["start"]) - union_length(
            intervals, op["start"], op["end"])
    ext_ops = {s["id"] for s in ops if s.get("layer") == "extensions"}
    m = {
        "sources.build_s": dur("sources"),
        "pipelines.build_s": dur("pipelines"),
        "pipelines.build_jobs": len(jobs_under("pipelines")),
        "operators.scd2.write_s": dur("operators.scd2"),
        "operators.scd2.rows_written": rows_written,
        "operators.scd2.bytes_written": stage_sum(writes, "output_bytes"),
        "operators.scd2.rewrite_ratio": rows_written / fresh if fresh else 0.0,
        "operators.audit.s": dur("operators.audit"),
        "streaming.ingest.add_batch_s": add_batch / 1000.0,
        "streaming.ingest.trigger_overhead_s": (trigger - add_batch) / 1000.0,
        "streaming.ingest.jobs_per_batch": (
            sum(any(b["start"] <= j["start"] <= b["end"] for b in progress)
                for j in jobs if j["start"] is not None) / n_batches
            if n_batches else 0.0),
        "plans.build_s": dur("plans.build"),
        "plans.build_jobs": len(jobs_under("plans.build")),
        "plans.exec_s": dur("plans.exec"),
        "catalyst.analysis_s": rnd["phases"]["analysis"],
        "catalyst.optimization_s": rnd["phases"]["optimization"],
        "catalyst.planning_s": rnd["phases"]["planning"],
        "extensions.exec_s": dur("plans.exec",
                                 lambda s: s["parent"] in ext_ops),
        "extensions.python_worker_rss_mb": rnd["worker_peak_rss"] / 2**20,
        "spark.jobs": len(jobs),
        "spark.stages": sum(len(j["stages"]) for j in jobs),
        "spark.tasks": stage_sum(jobs, "tasks"),
        "spark.failed_tasks": stage_sum(jobs, "failed_tasks"),
        "spark.executor_run_s": stage_sum(jobs, "executor_run_ms") / 1000.0,
        "spark.executor_cpu_s": stage_sum(jobs, "executor_cpu_ns") / 1e9,
        "spark.jvm_gc_s": stage_sum(jobs, "jvm_gc_ms") / 1000.0,
        "spark.shuffle_write_bytes": stage_sum(jobs, "shuffle_write_bytes"),
        "spark.shuffle_read_bytes": stage_sum(jobs, "shuffle_read_bytes"),
        "spark.spill_bytes": stage_sum(jobs, "disk_spill_bytes"),
        "spark.input_bytes": stage_sum(jobs, "input_bytes"),
        "driver.gap_s": gap,
        "process.peak_rss_mb": rnd["peak_rss"] / 2**20,
    }
    return m


def per_layer(traced_rounds: list[dict], start_s: float,
              warmup_s: float) -> dict:
    """Median over traced rounds of each round's per-layer sums."""
    per_round = [round_metrics(r) for r in traced_rounds]
    out = {"session.start_s": start_s, "session.warmup_s": warmup_s}
    for name in per_round[0] if per_round else []:
        out[name] = statistics.median(m[name] for m in per_round)
    return {k: {"value": v, "unit": UNITS[k]} for k, v in out.items()}
