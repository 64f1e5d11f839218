"""Similarity-search and as-of-join semantics on hand-computable fixtures."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hbase_taggregator_spark.operators import similarity as S
from hbase_taggregator_spark.operators.asof import asof_join

VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),   # close to 0
    (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    (4, [0.5, 0.5, 0.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_cosine_topk_exact(spark, vecs):
    out = S.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2)
    rows = out.orderBy(F.desc("cosine")).collect()
    assert [r["vec_id"] for r in rows] == [1, 4]
    assert rows[0]["cosine"] == pytest.approx(_cos(VECS[0][1], VECS[1][1]), abs=1e-9)


def test_neardup_pairs_threshold(spark, vecs):
    pairs = {(r["id_a"], r["id_b"]) for r in S.neardup_pairs(vecs, 0.9).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (0, 3) not in pairs


def test_ann_scores_match_bruteforce_where_returned(spark, vecs):
    """ANN may lose recall, never score: any returned pair's cosine equals
    the brute-force value."""
    brute = {(r["query_id"], r["vec_id"]): r["cosine"]
             for r in S.cosine_topk(vecs, vecs, k=4).collect()}
    ann = S.ann_lsh_topk(vecs, vecs, k=4, n_planes=4, dim=3).collect()
    assert len(ann) > 0
    for r in ann:
        assert r["cosine"] == pytest.approx(brute[(r["query_id"], r["vec_id"])], abs=1e-12)


def test_ivf_scores_match_bruteforce_where_returned(spark, vecs):
    """IVF loses recall to list pruning, never accuracy: returned scores
    equal brute force; probing every list recovers brute force exactly."""
    brute = {(r["query_id"], r["vec_id"]): r["cosine"]
             for r in S.cosine_topk(vecs, vecs, k=4).collect()}
    quant = S.coarse_quantizer(S.seed_centroids(vecs, 3))
    index, _ = S.build_ivf_index(vecs, quant)
    ivf = S.ivf_search(index, vecs, quant, k=4, n_probe=2).collect()
    assert len(ivf) > 0
    for r in ivf:
        assert r["cosine"] == pytest.approx(brute[(r["query_id"], r["vec_id"])], abs=1e-12)
    # n_probe = n_centroids → every inverted list probed → exact result
    full = {(r["query_id"], r["vec_id"]): r["cosine"]
            for r in S.ivf_search(index, vecs, quant, k=4, n_probe=3).collect()}
    assert full == brute


def test_lsh_neardup_is_exact_within_buckets(spark, vecs):
    """The LSH-composed near-dup operator returns a subset of the exact
    pairs with identical scores (prefilter only prunes, never rescores)."""
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in S.neardup_pairs(vecs, 0.9).collect()}
    approx = S.lsh_neardup_pairs(vecs, 0.9, n_planes=4, dim=3).collect()
    for r in approx:
        assert r["cosine"] == pytest.approx(exact[(r["id_a"], r["id_b"])], abs=1e-12)
    assert {(r["id_a"], r["id_b"]) for r in approx} <= set(exact)


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

LEFT = [  # (key, ts_s, l_val)
    ("a", 100, "L1"),
    ("a", 205, "L2"),
    ("a", 50, "L0"),     # before any right row
    ("b", 100, "L3"),
]
RIGHT = [  # (key, ts_s, r_val)
    ("a", 90, "R1"),
    ("a", 100, "R2"),    # equal-ts with L1 → must match (<= semantics)
    ("a", 200, "R3"),
    ("b", 99, "R4"),
]


@pytest.fixture(scope="module")
def asof_frames(spark):
    mk = lambda rows, v: spark.createDataFrame(
        [(k, t, x) for k, t, x in rows], f"key string, ts_s long, {v} string"
    ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    return mk(LEFT, "l_val"), mk(RIGHT, "r_val")


def test_asof_backward_semantics(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, ["key"], "ts", "ts", right_cols=["r_val"])
    got = {(r["key"], r["l_val"]): r["r_val_right"] for r in out.collect()}
    assert got == {
        ("a", "L0"): None,   # nothing at or before 50
        ("a", "L1"): "R2",   # equal timestamp matches, latest wins
        ("a", "L2"): "R3",
        ("b", "L3"): "R4",
    }
    assert out.count() == len(LEFT)  # left-preserving


def test_asof_tolerance(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, ["key"], "ts", "ts", right_cols=["r_val"],
        tolerance_us=1_000_000,  # 1 second
    )
    got = {(r["key"], r["l_val"]): r["r_val_right"] for r in out.collect()}
    assert got[("a", "L1")] == "R2"   # 0 s old — inside tolerance
    assert got[("a", "L2")] is None   # 5 s old — nulled out
    assert got[("b", "L3")] == "R4"   # exactly at tolerance (1 s) — kept


def test_asof_carry_null_caveat_with_sentinel(spark):
    """A NULL in a carried right column is skipped by the as-of carry —
    the documented caveat: sentinel-coded columns round-trip, raw NULLs
    leak the previous row's value."""
    from hbase_taggregator_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100)], "k long, lts long")
    right = spark.createDataFrame(
        [(1, 50, 60), (1, 100, None)], "k long, rts long, vto long"
    )
    j = asof_join(left, right, ["k"], "lts", "rts", right_cols=["vto"])
    row = j.collect()[0]
    assert row.rts_right == 100          # equal-ts tie matches
    assert row.vto_right == 60           # NULL leaked previous value (caveat)
    sent = right.selectExpr("k", "rts", "coalesce(vto, 9999) AS vto")
    j2 = asof_join(left, sent, ["k"], "lts", "rts", right_cols=["vto"])
    assert j2.collect()[0].vto_right == 9999
