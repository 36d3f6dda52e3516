"""Names and units of every metric the benchmark prints.

End-to-end metrics come from untraced runs (``--trace 0``), per-layer
metrics from traced runs (``--trace 1``).  BENCHMARK.json at the
repository root lists the same names; a test keeps the two in step.
"""

from __future__ import annotations

END_TO_END = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "cpu_s_per_mrow": "s/Mrow",
    "sink_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "tokenized.scan_s": "s",
    "tokenized.scan_cpu_us_per_row": "us/row",
    "tokenized.input_bytes_per_row": "B/row",
    "parse.cut_s": "s",
    "parse.cpu_us_per_row": "us/row",
    "parse.kernel_us_per_row": "us/row",
    "parse.boundary_us_per_row": "us/row",
    "parse.python_cpu_s": "s",
    "parse.dead_letter_frac": "fraction",
    "enrich.cut_s": "s",
    "route.write_s": "s",
    "route.cpu_s": "s",
    "route.shuffle_bytes_per_row": "B/row",
    "route.files_written": "count",
    "route.write_tasks": "count",
    "route.task_skew": "ratio",
    "route.gc_s": "s",
    "route.spill_bytes": "B",
    "resume.state_read_s": "s",
    "resume.commit_s": "s",
    "resume.commits": "count",
    "pipeline.read_amplification": "ratio",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.gc_s": "s",
    "pipeline.self_s": "s",
    "aggregate.agg_s": "s",
    "aggregate.readback_bytes": "B",
    "similarity.large_s": "s",
    "similarity.small_s": "s",
    "similarity.pairs_out": "count",
    "similarity.jobs": "count",
    "similarity.checkpoint_bytes": "B",
    "similarity.cpu_s": "s",
    "session.start_s": "s",
    "session.warm_s": "s",
    "trace.overhead_s": "s",
}


def report(values: dict, units: dict) -> dict:
    """``{name: {"value": v, "unit": u}}`` for every name in ``units``.
    A layer a workload does not reach reads 0."""
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()}
