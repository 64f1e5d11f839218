"""The two workloads, the layer probes of a traced run, and the operations
they share. All engine load goes through the package's public functions;
the benchmark only times and traces the calls.

A workload is a class with ``prepare`` (inputs from the cache), ``warm_up``
(the first operation a fresh session serves) and ``run(deadline)`` (timed
operations until the deadline). Every operation carries an ``expect`` tuple
from which :func:`verify` restates its result in DuckDB, outside the timed
section.
"""

from __future__ import annotations

import itertools
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hbase_taggregator_spark import TimeseriesAggregator, get_spark
from hbase_taggregator_spark.operators.timeseries import continuous_rollup, merge_rollups
from hbase_taggregator_spark.sources import load_table, rowkey_timestamp
from hbase_taggregator_spark.sources.sinks import write_parquet
from hbase_taggregator_spark.streaming.timeseries_stream import (
    bucketed_stream_agg,
    replay_parquet_stream,
    run_to_parquet,
)

import oracle
from datagen import (
    DAY_S,
    MONTH_DAYS,
    MONTH_START_S,
    ROWKEY_MASK,
    STREAM_FILE_S,
    US,
    build_month,
    build_stream,
)
from tracing import NullTracer

#: sizes of the generated inputs
DASHBOARD_ROWS = 20_000_000
BULK_ROWS = 2_000_000
#: arrival files of the stream replay probe
STREAM_FILES = 2
STREAM_ROWS_PER_FILE = 20_000

VERBS = ("max", "min", "sum", "avg", "count")
MONTH_END_S = MONTH_START_S + MONTH_DAYS * DAY_S


@dataclass
class Op:
    """One timed operation and what the oracle needs to check it."""

    kind: str
    latency_s: float
    rows: int = 0  # input rows in range, filled in by verify
    result: dict | None = None
    expect: tuple | None = None
    error: str | None = None
    job_group: str | None = None
    batches: list = field(default_factory=list)  # stream progress reports


@dataclass
class Ctx:
    spark: object
    work: str  # scratch directory for sinks and checkpoints, inside the checkout
    cache: object
    seed: int
    tracer: object = field(default_factory=NullTracer)
    listener: object = None  # streaming progress listener, once registered
    _op_ids: object = field(default_factory=lambda: itertools.count(1))
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def next_op(self) -> int:
        with self._lock:
            return next(self._op_ids)

    def begin_op(self, op_id: int) -> str | None:
        """Tag the calling thread's Spark jobs with the op, when traced."""
        if not self.tracer.enabled:
            return None
        group = f"perfbench-op-{op_id}"
        self.spark.sparkContext.setJobGroup(group, group)
        return group


def new_session(nproc: int):
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def guarded(fn, kind: str) -> Op:
    """Run one operation; an exception becomes a failed op, not a crash."""
    t0 = time.perf_counter()
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - counted in the error rate
        return Op(kind, time.perf_counter() - t0, error=f"{type(e).__name__}: {e}")


def parquet_rows(directory: str) -> int:
    return sum(pq.ParquetFile(os.path.join(directory, f)).metadata.num_rows
               for f in os.listdir(directory))


# -- the bucketed query, shared by dashboard, bulk_scan and the probes --------


def run_query(ctx: Ctx, q: dict, kind: str) -> Op:
    """Load → build → execute one bucketed query through the public API.

    ``q``: ``data`` (directory holding the table), ``table``, ``lo``/``hi``
    (epoch seconds), ``iv`` (seconds), ``verb`` (one of :data:`VERBS` or
    ``agg`` for all five), ``group`` (by event type), ``cutoff``, ``glob``
    (the columnar files the oracle reads) and, for the HBase layout,
    ``rowkey``.
    """
    tr, spark = ctx.tracer, ctx.spark
    op_id = ctx.next_op()
    lo, hi, iv = q["lo"] * US, q["hi"] * US, q["iv"] * US
    upper = oracle.upper_bound_us(lo, hi, iv, q["cutoff"])
    verbs = list(VERBS) if q["verb"] == "agg" else [q["verb"]]
    t0 = time.perf_counter()
    group = ctx.begin_op(op_id)
    with tr.span(f"op.{kind}", op=op_id):
        with tr.span("sources.parquet.load_table"):
            if q.get("rowkey"):
                df = load_table(spark, q["data"], q["table"])
            else:
                df = load_table(spark, q["data"], q["table"], time_range=(lo, upper))
        with tr.span("operators.timeseries.plan"):
            tsa = TimeseriesAggregator(spark)
            if q.get("rowkey"):
                tq = tsa.table_from_rowkey(df, ROWKEY_MASK, qualifier_col="qualifier")
            else:
                tq = tsa.table(df)
            tq = tq.range(q["lo"], q["hi"]).interval(q["iv"]).mode(q["cutoff"])
            if q["group"]:
                tq = tq.group_by("event_type")
            if q["verb"] == "agg":
                out = tq.agg(**{v: v for v in verbs})
            else:
                out = getattr(tq, q["verb"])(q["verb"])
        with tr.span("operators.timeseries.execute"):
            if q["verb"] != "agg" and not q["group"]:
                res = tq.to_map(out)
            else:
                res = out.collect()
    latency = time.perf_counter() - t0
    if isinstance(res, dict):
        result = {(ms * 1000, None): {q["verb"]: v} for ms, v in res.items()}
    else:
        result = {
            (r["bucket_start_us"], r["event_type"] if q["group"] else None):
                {v: r[v] for v in verbs}
            for r in res
        }
    expect = ("query", q["glob"], lo, upper, iv, tuple(verbs), q["group"], bool(q.get("rowkey")))
    return Op(kind, latency, result=result, expect=expect, job_group=group)


# -- dashboard ---------------------------------------------------------------

RANGES_S = (3600, 6 * 3600, DAY_S, 2 * DAY_S)
INTERVALS_S = (60, 300, 900, 3600)
DASHBOARD_CLIENTS = 2


#: a permutation ``g`` of 0..3 with ``b xor g[b]`` also a permutation
#: (multiplication by a generator of GF(4)): rows ``g[b]`` of the
#: range × interval square below hit every range and every interval once
_TRANSVERSAL = (0, 2, 3, 1)


def query_mix(seed: int, n: int) -> list[dict]:
    """``n`` dashboard queries from ``seed``.

    The shapes follow a fixed order so that runs with different seeds do
    the same mix of work: in block ``b = p div 4 mod 4``, query ``p`` has
    range ``r = p mod 4`` and interval ``r xor b``, so every four
    consecutive queries hold each range and each interval once and every
    sixteen hold each (range, interval) pair once. A run that stops anywhere
    has a balanced mix. In each block one query groups by event type and
    one uses the reference's key-mode cutoff, both rotating over every range
    and interval within sixteen; the verb cycles through max/min/sum/avg/
    count and the five-verb ``agg``. The seed draws every ``t_min``, a whole
    second, almost never aligned to the interval.
    """
    rng = np.random.default_rng([seed, 3])
    verbs = (*VERBS, "agg")
    out: list[dict] = []
    for p in range(n):
        block, r_idx = divmod(p % 16, 4)
        r, iv = RANGES_S[r_idx], INTERVALS_S[r_idx ^ block]
        lo = MONTH_START_S + int(rng.integers(0, MONTH_DAYS * DAY_S - r - 2 * iv))
        out.append({
            "lo": lo, "hi": lo + r, "iv": iv,
            "verb": verbs[p % len(verbs)],
            "group": r_idx == _TRANSVERSAL[block],
            "cutoff": "taggregator" if r_idx == _TRANSVERSAL[block] ^ 1 else "strict",
        })
    return out


class Dashboard:
    """Closed loop of :data:`DASHBOARD_CLIENTS` client threads, each sending
    its next query when the previous one returns."""

    name = "dashboard"
    #: untimed queries before the timed section: right after set-up, query
    #: latency falls for tens of seconds while the JVM compiles hot paths
    burn_in_s = 6.0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.mix = itertools.cycle(query_mix(ctx.seed, 4096))
        self._lock = threading.Lock()

    def prepare(self) -> None:
        base = self.ctx.cache.get(build_month, self.ctx.seed, DASHBOARD_ROWS, False)
        data = os.path.join(base, "columnar")
        self.table = {"data": data, "table": "events",
                      "glob": os.path.join(data, "events.parquet", "*.parquet")}

    def warm_up(self) -> None:
        run_query(self.ctx, {**query_mix(self.ctx.seed + 1, 1)[0], **self.table}, "warmup")

    def _take(self) -> dict:
        with self._lock:
            return {**next(self.mix), **self.table}

    def run(self, deadline: float) -> list[Op]:
        ops: list[Op] = []
        lock = threading.Lock()

        def client():
            while time.perf_counter() < deadline:
                op = guarded(lambda: run_query(self.ctx, self._take(), "query"), "query")
                with lock:
                    ops.append(op)

        threads = [threading.Thread(target=client) for _ in range(DASHBOARD_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops


# -- bulk_scan ---------------------------------------------------------------

ROLLUP_FINE_S = 900
ROLLUP_COARSE_S = DAY_S


class BulkScan:
    """One client running whole-month operations in sequence: (a) a grouped
    multi-verb query over the columnar layout, (b) the same query over the
    HBase rowkey layout, (c) rollup maintenance."""

    name = "bulk_scan"
    burn_in_s = 0.0  # one cycle

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        base = self.ctx.cache.get(build_month, self.ctx.seed, BULK_ROWS, True)
        self.columnar = os.path.join(base, "columnar")
        self.hbase = os.path.join(base, "hbase")
        self.delta = os.path.join(base, "delta")
        glob = os.path.join(self.columnar, "events.parquet", "*.parquet")
        self.delta_glob = os.path.join(self.delta, "events.parquet", "*.parquet")
        month = {"lo": MONTH_START_S, "hi": MONTH_END_S, "iv": 3600, "verb": "agg",
                 "group": True, "cutoff": "strict", "glob": glob}
        self.q_columnar = {**month, "data": self.columnar, "table": "events"}
        self.q_rowkey = {**month, "data": self.hbase, "table": "events_hbase", "rowkey": True}

    def warm_up(self) -> None:
        run_query(self.ctx, self.q_columnar, "warmup")

    def rollup_op(self) -> Op:
        """Fine rollup of the month → parquet; merge one more day's delta
        into it → parquet; read the merged rollup back at coarse grain."""
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        op_id = ctx.next_op()
        out = os.path.join(ctx.work, f"rollup-{op_id}")
        lo, hi = MONTH_START_S, MONTH_END_S
        t0 = time.perf_counter()
        ctx.begin_op(op_id)
        with tr.span("op.rollup", op=op_id):
            with tr.span("sources.parquet.load_table"):
                month = load_table(spark, self.columnar, "events")
                delta = load_table(spark, self.delta, "events")
            with tr.span("operators.timeseries.continuous_rollup"):
                fine, _ = continuous_rollup(month, lo, hi, ROLLUP_FINE_S, ROLLUP_COARSE_S)
                with tr.span("sources.sinks.write_parquet"):
                    write_parquet(fine, os.path.join(out, "fine.parquet"))
            with tr.span("operators.timeseries.merge_rollups"):
                delta_fine, _ = continuous_rollup(delta, hi, hi + DAY_S, ROLLUP_FINE_S,
                                                  ROLLUP_COARSE_S)
                with tr.span("sources.parquet.load_table"):
                    stored = load_table(spark, out, "fine")
                merged = merge_rollups([stored, delta_fine])
                with tr.span("sources.sinks.write_parquet"):
                    write_parquet(merged, os.path.join(out, "merged.parquet"))
            with tr.span("operators.timeseries.plan"):
                with tr.span("sources.parquet.load_table"):
                    rolled = load_table(spark, out, "merged")
                coarse = (
                    TimeseriesAggregator(spark)
                    .table(rolled.withColumn("ts", F.timestamp_micros("bucket_start_us")))
                    .range(lo, hi + DAY_S)
                    .interval(ROLLUP_COARSE_S)
                    .aggregate(F.max("max_value").alias("max"), F.min("min_value").alias("min"),
                               F.sum("sum_dec").alias("sum_dec"),
                               F.sum("count_value").alias("count"))
                )
            with tr.span("operators.timeseries.execute"):
                rows = coarse.collect()
        latency = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        result = {(r["bucket_start_us"], None): {k: r[k] for k in ("max", "min", "sum_dec", "count")}
                  for r in rows}
        expect = ("rollup", (self.q_columnar["glob"], self.delta_glob), lo * US,
                  ROLLUP_COARSE_S * US)
        return Op("rollup", latency, result=result, expect=expect)

    def run(self, deadline: float) -> list[Op]:
        ops: list[Op] = []
        while not ops or time.perf_counter() < deadline:
            ops.append(guarded(lambda: run_query(self.ctx, self.q_columnar, "columnar"),
                               "columnar"))
            ops.append(guarded(lambda: run_query(self.ctx, self.q_rowkey, "rowkey"), "rowkey"))
            ops.append(guarded(self.rollup_op, "rollup"))
        return ops


# -- stream replay, run by the layer probes ------------------------------------

STREAM_INTERVAL_S = 900
STREAM_VERBS = {"max": "max", "min": "min", "sum": "sum", "count": "count"}


def replay(ctx: Ctx, source: str, kind: str) -> Op:
    """One bounded replay: arrival files one per trigger → 15-minute
    watermarked buckets per event type → per-batch parquet sink. Once the
    session has a progress listener, this replay's reports land in
    ``op.batches``."""
    tr, spark, listener = ctx.tracer, ctx.spark, ctx.listener
    op_id = ctx.next_op()
    out = os.path.join(ctx.work, f"stream-{op_id}")
    if listener is not None:
        seen, first = len(listener.terminated), len(listener.progress)
    t0 = time.perf_counter()
    ctx.begin_op(op_id)
    with tr.span(f"op.{kind}", op=op_id):
        with tr.span("streaming.plan"):
            stream = replay_parquet_stream(spark, source, max_files_per_trigger=1)
            agg = bucketed_stream_agg(stream, MONTH_START_S, STREAM_INTERVAL_S, STREAM_VERBS,
                                      dims=("event_type",), watermark="1 hour")
        with tr.span("streaming.run_to_parquet"):
            run_to_parquet(spark, agg, os.path.join(out, "result"),
                           os.path.join(out, "checkpoint"))
    latency = time.perf_counter() - t0
    batches = []
    if listener is not None:
        listener.wait_terminated(seen + 1)
        batches = listener.progress[first:]
    table = pq.read_table(os.path.join(out, "result"))
    shutil.rmtree(out, ignore_errors=True)
    result = {
        (b, g): {"max": mx, "min": mn, "sum": s, "count": c}
        for b, g, mx, mn, s, c in zip(*(table.column(k).to_pylist() for k in (
            "bucket_start_us", "event_type", "max", "min", "sum", "count")))
    }
    lo = MONTH_START_S * US
    hi = lo + len(os.listdir(source)) * STREAM_FILE_S * US
    expect = ("query", os.path.join(source, "*.parquet"), lo, hi, STREAM_INTERVAL_S * US,
              tuple(STREAM_VERBS), True, False)
    return Op(kind, latency, result=result, expect=expect, batches=batches)


WORKLOADS = {w.name: w for w in (Dashboard, BulkScan)}
#: operation kinds that run one bucketed query (job counts are per query)
QUERY_KINDS = {"query", "columnar", "rowkey", "query_probe"}


def unit_latencies_ms(workload: str, ops: list[Op]) -> list[float]:
    """Latencies of the workload's reported operation: a query on
    ``dashboard``; on ``bulk_scan`` one cycle of parts a, b and c, whose
    latencies are too close for a median over single parts to settle on
    one of them."""
    lat = [op.latency_s * 1e3 for op in ops]
    if workload == BulkScan.name:
        return [sum(lat[i:i + 3]) for i in range(0, len(lat), 3)]
    return lat


# -- correctness ---------------------------------------------------------------


def expected(con, expect: tuple) -> tuple[dict, int]:
    """The oracle's result for an operation, and its input rows in range."""
    if expect[0] == "rollup":
        _, globs, lo, iv = expect
        return oracle.rollup_daily(con, list(globs), lo, iv)
    _, glob, lo, hi, iv, verbs, group, rowkey = expect
    ts_expr = oracle.floor_seconds_expr() if rowkey else "epoch_us(ts)"
    return oracle.bucketed(con, glob, lo, hi, iv, list(verbs), group, ts_expr)


def verify(con, op: Op, memo: dict) -> str | None:
    """None if the operation succeeded with the oracle's result, else why
    not. Sets ``op.rows``; ``memo`` shares oracle answers between
    operations with the same expectation."""
    if op.error:
        return op.error
    if op.expect not in memo:
        memo[op.expect] = expected(con, op.expect)
    want, op.rows = memo[op.expect]
    return oracle.mismatch(op.result, want)


# -- layer probes of a traced run ---------------------------------------------


def layer_probes(ctx: Ctx) -> tuple[list[Op], dict]:
    """Exercise every layer, whatever the workload: a scan and a rowkey
    decode forced through the ``noop`` sink, one bucketed query and one
    rollup maintenance over the ``bulk_scan`` inputs of the run's seed, and
    one replay of seeded stream arrival files, the only streaming load.
    Returns the probe operations (verified like timed ones) and the two scan
    rates in rows per second."""
    tr, spark = ctx.tracer, ctx.spark
    bulk = BulkScan(ctx)
    bulk.prepare()
    stream = ctx.cache.get(build_stream, ctx.seed, STREAM_FILES, STREAM_ROWS_PER_FILE)
    rates = {}
    for name, directory, table, cols in (
        ("sources.parquet.scan", bulk.columnar, "events",
         lambda df: df.select("ts", "event_type", "value")),
        ("sources.rowkey.decode", bulk.hbase, "events_hbase",
         lambda df: df.select(rowkey_timestamp("rowkey", ROWKEY_MASK, "qualifier").alias("ts"),
                              "value")),
    ):
        rows = parquet_rows(os.path.join(directory, f"{table}.parquet"))
        t0 = time.perf_counter()
        with tr.span(f"{name}_probe"):
            # the noop sink forces the projection and discards its rows
            df = cols(load_table(spark, directory, table))
            df.write.format("noop").mode("overwrite").save()
        rates[f"{name}_rows_per_s"] = rows / (time.perf_counter() - t0)
    day = {"lo": MONTH_START_S + 3 * DAY_S + 17, "iv": 900, "verb": "max", "group": False}
    day["hi"] = day["lo"] + DAY_S
    ops = [
        guarded(lambda: run_query(ctx, {**bulk.q_columnar, **day}, "query_probe"),
                "query_probe"),
        guarded(bulk.rollup_op, "rollup"),
        guarded(lambda: replay(ctx, os.path.join(stream, "arrivals", "events.parquet"),
                               "stream_probe"), "stream_probe"),
    ]
    return ops, rates
