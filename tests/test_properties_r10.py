"""Property tests for the round-10 operators: Spark algebra vs
independent pure-Python reimplementations under randomized inputs
(same economics as test_properties.py — few examples, randomized over
the error-prone dimensions: values straddling the threshold, partial
final words, rerank_k at/over the corpus size, salt counts around the
candidate count)."""

from __future__ import annotations

import pytest

try:
    from hypothesis import given, settings, strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from pyspark.sql import functions as F

# small signed values with exact float32 representations plus exact
# zeros — zeros sit EXACTLY on the sign threshold, the boundary where a
# `>` vs `>=` disagreement between engines/references would surface
component = st.one_of(
    st.just(0.0),
    st.integers(min_value=-8, max_value=8).map(lambda i: i / 4.0),
)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(component, min_size=5, max_size=5),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from(["zero", "mean"]),
)
def test_binary_quantize_matches_python_under_random_vectors(
    spark, vecs, kind
):
    from hbase_taggregator_spark.operators import similarity as S

    dim = 5
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    thr = S.dimension_means(emb, dim=dim) if kind == "mean" else None
    t = thr or [0.0] * dim
    got = {
        r["vec_id"]: r["w0"]
        for r in S.binary_quantize(emb, dim=dim, thresholds=thr).collect()
    }
    for i, v in enumerate(vecs):
        exp = sum(1 << d for d in range(dim) if v[d] > t[d])
        assert got[i] == exp, (i, kind)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(component, min_size=4, max_size=4),
        min_size=4,
        max_size=9,
    ),
    st.integers(min_value=1, max_value=12),
)
def test_hamming_shortlist_matches_python_under_random_vectors(
    spark, vecs, rerank_k
):
    """The Hamming first pass (no re-rank) against a pure-Python
    popcount ranking — including rerank_k beyond the corpus size, where
    every non-self vector must appear."""
    from hbase_taggregator_spark.operators import similarity as S

    # drop all-zero corpora only in the sense that they are fine too —
    # ties resolve by vec_id on both sides, so keep everything
    dim = 4
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 2)
    got = {}
    for r in S.binary_hamming_topk(
        emb, queries, k=rerank_k, rerank_k=None,
        codec=S.Codec("binary", dim=dim, thresholds=[0.0] * dim),
    ).collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["hamming"]))
    for v in got.values():
        v.sort()

    def pack(v):
        return sum(1 << d for d in range(dim) if v[d] > 0.0)

    bits = {i: pack(v) for i, v in enumerate(vecs)}
    for qid in range(min(2, len(vecs))):
        ranked = sorted(
            (
                (bin(bits[qid] ^ bits[cid]).count("1"), cid)
                for cid in bits
                if cid != qid
            )
        )[:rerank_k]
        exp = sorted((cid, h) for h, cid in ranked)
        assert got.get(qid, []) == exp, qid


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.lists(component, min_size=6, max_size=6),
        min_size=6,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_salted_topk_equals_unsalted_under_random_vectors(
    spark, vecs, salt
):
    """ivf_assign_two_level's salted two-stage top-k is EXACT for any
    salt count — membership and multiplicity — under randomized vectors
    and salts (the merge argument: each candidate lives in exactly one
    salt group; a global top-k member is its own group's top-k
    member)."""
    from hbase_taggregator_spark.operators import similarity as S

    dim = 6
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    nlist = max(2, len(vecs) // 2)
    cents = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    # zero vectors make the cosine denominator guard kick in — keep them
    # out of the centroid set the way every caller does (centroids are
    # real corpus vectors); queries with zero norm still flow through
    cents = cents.filter(
        F.aggregate(
            "cvec", F.lit(0.0), lambda a, x: a + F.abs(x.cast("double"))
        ) > 0
    )
    if cents.count() == 0:
        return

    def run(s):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(S, "TWO_LEVEL_SALTS", s)
            return sorted(
                (r["vec_id"], r["cent_id"])
                for r in S.ivf_assign_two_level(
                    emb, cents, n_super=2, n_super_probe=2, n_probe=2,
                ).collect()
            )

    assert run(1) == run(salt)
