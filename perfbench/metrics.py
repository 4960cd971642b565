"""Names and units of the metrics the benchmark reports.

``END_TO_END`` is what every untraced run prints on its last line (what
each means per workload is in README.md).
``PER_LAYER`` is what every traced run prints: the CDC layers once per
phase of the ``cdc`` workload (``backfill.*`` and ``tail.*``), the Spark
executor, the Python boundary and each query once for the ``query`` phase
of the ``analytics`` workload. A layer that does no work in a run reports 0.
"""

from __future__ import annotations

from . import eventlog
from .workloads import QUERIES, phase_of

END_TO_END = [
    ("setup_s", "s"),
    ("work_cpu_s", "s"),
    ("step_cpu_s", "s"),
]

CDC_PHASES = ("backfill", "tail")

_MERGE_PHASES = ["plan", "a1_touched", "a2_skinny", "a3_write", "delta_write", "commit"]

SPARK = [
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"), ("spark.spill_bytes", "B"), ("spark.input_bytes", "B"),
    ("spark.output_bytes", "B"), ("spark.task_skew", "ratio"),
]

CDC_LAYERS = (
    [("merge.apply_s", "s"), ("merge.self_s", "s")]
    + [(f"merge.{p}_s", "s") for p in _MERGE_PHASES]
    + [("merge.events_in", "count"), ("merge.gated_out", "count"),
       ("merge.rows_written", "count"), ("merge.buckets_rewritten", "count"),
       ("merge.write_amp", "ratio")]
    + [("lake.snapshot_calls", "count"), ("lake.snapshot_s", "s"),
       ("lake.evolve_schema_s", "s"), ("lake.read_plan_s", "s"),
       ("lake.write_files_s", "s"), ("lake.commit_s", "s"), ("lake.compact_s", "s"),
       ("lake.compactions", "count"), ("lake.vacuum_s", "s"),
       ("lake.commit_conflicts", "count"), ("lake.manifest_bytes", "B"),
       ("lake.live_files", "count"), ("lake.delta_depth_max", "count")]
    + [("fileio.parquet_stats_calls", "count"), ("fileio.parquet_stats_s", "s"),
       ("fileio.write_json_s", "s"), ("fileio.list_calls", "count")]
    + [("pipeline.read_batch_s", "s"), ("pipeline.segments", "count"),
       ("pipeline.footer_reads", "count"), ("schema.merge_s", "s")]
    + SPARK
)

PER_LAYER = (
    [(f"{ph}.{name}", unit) for ph in CDC_PHASES for name, unit in CDC_LAYERS]
    + [(f"query.{name}", unit) for name, unit in SPARK]
    + [("query.python.bytes_to_workers", "B"), ("query.python.bytes_from_workers", "B")]
    + [(f"query.{q}_s", "s") for q in QUERIES]
    + [("trace.overhead_frac", "ratio")]
)

#: span name -> (metric of summed duration, metric of call count)
_SPAN_METRICS = {
    "lake.snapshot": ("lake.snapshot_s", "lake.snapshot_calls"),
    "lake.evolve_schema": ("lake.evolve_schema_s", None),
    "lake.read": ("lake.read_plan_s", None),
    "lake.write_bucket_files": ("lake.write_files_s", None),
    "lake.commit": ("lake.commit_s", None),
    "lake.compact": ("lake.compact_s", "lake.compactions"),
    "lake.vacuum": ("lake.vacuum_s", None),
    "fileio.parquet_stats": ("fileio.parquet_stats_s", "fileio.parquet_stats_calls"),
    "fileio.write_json": ("fileio.write_json_s", None),
    "fileio.list_names": (None, "fileio.list_calls"),
    "pipeline.read_batch": ("pipeline.read_batch_s", None),
    "pipeline.footer_read": (None, "pipeline.footer_reads"),
    "schema.merge_schemas": ("schema.merge_s", None),
}


def per_layer(tracer, event_log: list[str], t_from_ms: float, t_to_ms: float,
              overhead: float) -> dict:
    """The ``PER_LAYER`` metrics of one traced window, from the tracer's
    spans and counters and from the Spark event log."""
    vals = {name: 0.0 for name, _ in PER_LAYER}
    totals = tracer.totals()
    for ph in CDC_PHASES:
        apply = totals.get(f"{ph}.merge.apply_batch")
        if apply:
            vals[f"{ph}.merge.apply_s"] = apply["total_s"]
            vals[f"{ph}.merge.self_s"] = apply["self_s"]
        for span, (dur, calls) in _SPAN_METRICS.items():
            t = totals.get(f"{ph}.{span}")
            if t is None:
                continue
            if dur:
                vals[f"{ph}.{dur}"] = t["total_s"]
            if calls:
                vals[f"{ph}.{calls}"] = float(t["calls"])
    for q in QUERIES:
        t = totals.get(f"query.op.{q}")
        if t:
            vals[f"query.{q}_s"] = t["total_s"]
    for k, v in list(tracer.counts.items()) + list(tracer.maxima.items()):
        if k in vals:
            vals[k] = float(v)
    for ph in CDC_PHASES:
        if vals[f"{ph}.merge.events_in"]:
            vals[f"{ph}.merge.write_amp"] = (
                vals[f"{ph}.merge.rows_written"] / vals[f"{ph}.merge.events_in"])
    rolled = eventlog.rollup(eventlog.read_events(event_log), t_from_ms, t_to_ms,
                             phase=lambda g: phase_of(g) if g else None)
    for ph, m in rolled.items():
        for k, v in m.items():
            key = f"{ph}.{k}"
            if key in vals:
                vals[key] = v
    vals["trace.overhead_frac"] = overhead
    units = dict(PER_LAYER)
    return {name: {"value": vals[name], "unit": units[name]} for name, _ in PER_LAYER}
