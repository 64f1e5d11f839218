"""Shared fixtures: one session-scoped SparkSession + the reference golden
fixture (FIXTURES.md §A: 100 hourly rows × 100 qualifier cells, value = j)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import SparkSession, functions as F

from hbase_taggregator_spark.session import get_spark

#: 2014-11-10 00:00:00 UTC — the reference fixture base
#: (TestTimeseriesAggregateProtocol.java:45-46, pinned to UTC per SURVEY §7).
BASE_S = int(dt.datetime(2014, 11, 10, tzinfo=dt.timezone.utc).timestamp())

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark(app_name="taggregator-tests", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def golden_cells(spark):
    """The reference test fixture as a relational DataFrame.

    One HBase cell = one row: 100 rows (hours) × 100 qualifiers
    (36-second offsets), value = qualifier index j
    (TestTimeseriesAggregateProtocol.java:110-128 `makeN`)."""
    return (
        spark.range(100)
        .select(
            (F.lit(BASE_S) + F.col("id") * 3600).alias("row_ts_s"),
            F.explode(F.sequence(F.lit(0), F.lit(99))).alias("j"),
        )
        .select(
            "row_ts_s",
            (F.col("j") * 36).alias("qualifier_offset_s"),
            F.col("j").cast("long").alias("value"),
            F.timestamp_seconds(F.col("row_ts_s") + F.col("j") * 36).alias("ts"),
        )
    )


def golden_cells_py() -> list[tuple[int, int]]:
    """Same fixture, pure Python: [(event_time_s, value)] — the in-test
    oracle's input (arithmetic-checkable without Spark or HBase)."""
    return [
        (BASE_S + i * 3600 + j * 36, j) for i in range(100) for j in range(100)
    ]


def exact_two_level_pairs(df, cents, n_super, n_super_probe, n_probe):
    """Exact reference for the two-level assignment: every candidate of
    the super-cell join (``two_level_parts``) scored with the
    decimal-exact cosine, ranked per vector by (negcos NULLS FIRST,
    cent_id) — the all-exact aggregate the two-phase top-k must agree
    with — as a set of (vec_id, cent_id) picks."""
    from pyspark.sql import Window

    from hbase_taggregator_spark.operators import similarity as S

    members, probes = S.two_level_parts(
        df, cents, n_super=n_super, n_super_probe=n_super_probe
    )
    scored = probes.join(members, "__sid").select(
        "vec_id",
        F.col("__cid").alias("cent_id"),
        (
            -(
                S.dot(F.col("embedding"), F.col("__cv"))
                / S._nz(F.col("nrm") * F.col("__cnrm"))
            )
        ).alias("negcos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("negcos").asc_nulls_first(), "cent_id"
    )
    ranked = scored.withColumn("__rk", F.row_number().over(w))
    return {
        (r["vec_id"], r["cent_id"])
        for r in ranked.filter(F.col("__rk") <= n_probe).collect()
    }


def ivf_assign_as(form, df, cents, **kw):
    """``ivf_assign`` forced onto one flat form — ``"expr"`` (plan
    literals) or ``"arrow"`` (mapInPandas) — by moving the nlist
    threshold that normally chooses between them."""
    from hbase_taggregator_spark.operators import similarity as S

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            S, "ARROW_ASSIGN_MIN_NLIST", 1 if form == "arrow" else 1 << 62
        )
        return S.ivf_assign(df, cents, **kw)


def ivf_pq(corpus, queries, k=5, m=4, n_codes=16, n_centroids=16,
           n_probe=4, refine_iters=0, residual=False, rerank_k=None):
    """In-memory IVFADC search with the first ``n_centroids`` corpus
    vectors as centroids: build the pq index, then search it."""
    from hbase_taggregator_spark.operators import similarity as S

    quant = S.coarse_quantizer(S.seed_centroids(corpus, n_centroids))
    index, codec = S.build_ivf_index(
        corpus, quant,
        S.Codec("pq", m=m, n_codes=n_codes, refine_iters=refine_iters,
                residual=residual),
    )
    return S.ivf_search(
        index, queries, quant, codec, k=k, n_probe=n_probe,
        rerank_k=rerank_k,
    )


def import_catalog_module_first(mod: str) -> None:
    """In a fresh interpreter, import ``catalog.<mod>`` before anything else
    of the catalog: all 203 queries must be there, the gate order first in
    ``QUERIES`` and ``ORACLES``, and every query must have an oracle (the
    rows-only census is empty)."""
    import pathlib
    import subprocess
    import sys

    code = (
        f"import hbase_taggregator_spark.catalog.{mod}\n"
        "from hbase_taggregator_spark.catalog import GATE_ORDER, ORACLES, QUERIES\n"
        "names = list(QUERIES)\n"
        "assert len(names) == 203, len(names)\n"
        "assert len(set(GATE_ORDER)) == 50\n"
        "assert names[:50] == GATE_ORDER, 'gate order not applied'\n"
        "assert list(ORACLES)[:50] == GATE_ORDER\n"
        "rows_only = [n for n in names if n not in ORACLES]\n"
        "assert not rows_only, rows_only\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   cwd=pathlib.Path(__file__).resolve().parents[1], timeout=300)
