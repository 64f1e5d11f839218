"""Metric definitions shared by the runner, ``BENCHMARK.json`` and the
tests. Every workload reports every metric: end-to-end ones with tracing
off, per-layer ones from a traced run."""

from __future__ import annotations

import statistics

#: name → (unit, better). The operation is the workload's unit of work: a
#: query on ``dashboard``, one cycle of whole-month parts a, b and c on
#: ``bulk_scan``.
END_TO_END = {
    "setup_s": ("s", "lower"),  # median of get_spark + warm-up op, 3 times
    "op_p50_ms": ("ms", "lower"),  # median operation latency
    "ops_per_s": ("1/s", "higher"),  # operations completed per wall second
    "rows_per_s": ("rows/s", "higher"),  # input rows in range per wall second
    "peak_rss_mb": ("MB", "lower"),  # peak RSS of Python plus the driver JVM
}

#: name → (unit, better, the end-to-end metric and workload it should move)
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s on all"),
    "sources.parquet.load_table_ms": ("ms", "lower", "op_p50_ms on dashboard"),
    "sources.parquet.scan_rows_per_s": ("rows/s", "higher", "rows_per_s on bulk_scan"),
    "sources.rowkey.decode_rows_per_s": ("rows/s", "higher", "rows_per_s on bulk_scan"),
    "operators.timeseries.plan_ms": ("ms", "lower", "op_p50_ms on dashboard"),
    "operators.timeseries.execute_ms": ("ms", "lower",
                                        "op_p50_ms on dashboard, rows_per_s on bulk_scan"),
    "operators.timeseries.jobs_per_query": ("count", "lower", "op_p50_ms on dashboard"),
    "operators.timeseries.stages_per_query": ("count", "lower", "op_p50_ms on dashboard"),
    "operators.timeseries.tasks_per_query": ("count", "lower", "op_p50_ms on dashboard"),
    "operators.timeseries.continuous_rollup_ms": ("ms", "lower", "rows_per_s on bulk_scan"),
    "operators.timeseries.merge_rollups_ms": ("ms", "lower", "rows_per_s on bulk_scan"),
    "sources.sinks.write_parquet_ms": ("ms", "lower", "rows_per_s on bulk_scan"),
    # no workload streams: the stream replay probe of a traced run is the only
    # streaming load, so these move no end-to-end metric
    "streaming.trigger_ms": ("ms", "lower", "none: stream probe"),
    "streaming.add_batch_ms": ("ms", "lower", "none: stream probe"),
    "streaming.commit_ms": ("ms", "lower", "none: stream probe"),
    "streaming.state_rows": ("count", "lower", "none: stream probe"),
    "streaming.state_commit_ms": ("ms", "lower", "none: stream probe"),
    "trace.overhead_pct": ("%", "lower", "none: traced over untraced op latency"),
}


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs) -> tuple[int, float] | None:
    """The highest of p90/p99/p999 with at least ten samples beyond it."""
    n = len(xs)
    for permille in (999, 990, 900):
        if n * (1000 - permille) >= 10 * 1000:
            return permille / 10, float(statistics.quantiles(xs, n=1000)[permille - 1])
    return None


def result_line(correct: bool, attempted: int, failed: int, values: dict, spec: dict) -> dict:
    """The benchmark's final JSON object for ``values`` named in ``spec``."""
    missing = spec.keys() - values.keys()
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": spec[k][0]} for k in spec},
    }
