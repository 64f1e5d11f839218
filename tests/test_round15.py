"""Round-15 regression tests.

VERDICT r14 #1 (plan-audit blind spot): gates that materialize their
result before a run-scoped index/sink directory vanishes register a
LIVE serving-plan factory in ``PLAN_FRAMES``; the catalog-wide plan
audit builds their artifacts at a run-scoped path and records the real
serving plan instead of the LocalTableScan the registered callable
returns. Pins here: the registry covers every materializing gate, each
factory is row-identical to its registered query, and each serving
frame is a REAL distributed plan (exchanges present, zero Python-eval
nodes — the properties the audit exists to witness).

Plus the OPQ rotation pins: orthogonal, deterministic, balanced, and a
real recall gain over residual-only and raw codes on low-rank data.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import ivf_pq
from hbase_taggregator_spark import plans as P
from hbase_taggregator_spark.catalog import PLAN_FRAMES, QUERIES

SF = "/root/testdata/sf0.001"

#: every gate whose registered callable materializes its result before
#: a run-scoped directory vanishes — the audit blind-spot set
_EXPECTED_PLAN_FRAMES = {
    "similarity_ivf_indexed_recall_at_5",
    "similarity_ivf_binary_indexed_recall_at_5",
    "similarity_ivf_pq_indexed_recall_at_5",
    "similarity_ivf_pq_residual_indexed_recall_at_5",
    "embedding_binary_incremental_admitted",
    "sink_partitioned_roundtrip",
}


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_plan_frames_registry_covers_materializing_gates():
    assert set(PLAN_FRAMES) == _EXPECTED_PLAN_FRAMES
    assert set(PLAN_FRAMES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(_EXPECTED_PLAN_FRAMES))
def test_plan_frame_rows_pin_registered_gate(spark, name):
    """The live serving frame must be row-identical to the registered
    (materializing) gate — the factory IS the gate's plan, minus the
    collect; any divergence would let the audit describe a different
    computation than the one the oracle hashes."""
    with tempfile.TemporaryDirectory() as d:
        live = PLAN_FRAMES[name](spark, SF, d)
        live_rows = _rows(live)
    assert live_rows == _rows(QUERIES[name](spark, SF))


@pytest.mark.parametrize("name", sorted(_EXPECTED_PLAN_FRAMES))
def test_plan_frame_is_a_real_distributed_plan(spark, name):
    """The properties the audit exists to witness: the serving frame is
    a live distributed plan (exchanges present — a LocalTableScan has
    none) with zero Python-eval nodes on the serving path."""
    with tempfile.TemporaryDirectory() as d:
        live = PLAN_FRAMES[name](spark, SF, d)
        assert P.count_nodes(live, "Exchange") > 0
        assert P.python_eval_count(live) == 0


# --- OPQ-style rotation (VERDICT r14 #3 follow-on of the r13 stretch) --------


def test_opq_rotation_is_orthogonal_deterministic_and_balanced(spark):
    """opq_rotation must return an ORTHOGONAL matrix (exact distances
    are then rotation-invariant — the property that lets the whole
    IVFADC stack run unchanged on rotated vectors), be deterministic
    across calls (sign-normalized eigenvectors), and allocate
    per-subspace variance more evenly than natural chunking on
    anisotropic data (the eigenvalue-allocation contract)."""
    import numpy as np

    from hbase_taggregator_spark.operators import similarity as S

    # anisotropic deterministic corpus: component variance decays with i
    dim, m, n = 64, 4, 256
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.pow(F.lit(2.0), -i.cast("double") / F.lit(8.0))
            * F.sin((F.col("id") + 1) * (i + 1) * 7.13)
        ).cast("double"),
    )
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    r1 = S.opq_rotation(emb, m=m, dim=dim)
    r2 = S.opq_rotation(emb, m=m, dim=dim)
    assert r1 == r2  # deterministic
    rm = np.array(r1)
    assert np.allclose(rm @ rm.T, np.eye(dim), atol=1e-9)  # orthogonal

    x = np.array([r["embedding"] for r in emb.collect()])
    xc = x - x.mean(axis=0)
    sub = dim // m

    def subspace_var_spread(y):
        var = y.var(axis=0)
        per = [var[s * sub:(s + 1) * sub].sum() for s in range(m)]
        return max(per) / max(min(per), 1e-12)

    natural = subspace_var_spread(xc)
    rotated = subspace_var_spread(xc @ rm.T)
    assert rotated < natural / 2  # allocation balances the variance

    with pytest.raises(ValueError, match="need >= 2 sample vectors"):
        S.opq_rotation(emb.limit(1), m=m, dim=dim)


def test_apply_rotation_matches_numpy_and_stays_jvm_side(spark):
    import numpy as np

    from hbase_taggregator_spark import plans as P
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark).limit(20)
    r = S.opq_rotation(_emb(spark), m=4, dim=64)
    rm = np.array(r)
    rot = S.apply_rotation(emb, r)
    assert P.python_eval_count(rot) == 0  # map-side broadcast, no Python
    raw = {x["vec_id"]: np.array(x["embedding"], dtype=float)
           for x in emb.collect()}
    got = {x["vec_id"]: np.array(x["embedding"], dtype=float)
           for x in rot.collect()}
    for k in raw:
        assert np.allclose(got[k], rm @ raw[k], atol=1e-9)
        # orthogonality in action: norms (hence all L2 distances) kept
        assert abs(np.linalg.norm(got[k]) - np.linalg.norm(raw[k])) < 1e-9


def test_opq_beats_plain_residual_on_lowrank(spark):
    """The comparative claim behind the similarity_opq_lowrank_gain
    gate (the gate itself holds only the absolute floor, for cost):
    on the rank-8 correlated fixture at the tight 32-bit budget,
    rotation must (a) not lose to residual-only at the fixed rerank
    budget and (b) SUBSTANTIALLY beat raw codes without rerank — the
    census separations (bench_opq_clustered_r15.json in git history: raw 0.18
    vs raw+opq 0.62 no-rerank; residual 0.96 vs residual+opq 1.00 at
    rerank 20), pinned with loose bands (F.sin ulp variance across
    JVMs can flip a rank-5 near-tie)."""
    from hbase_taggregator_spark.operators import similarity as S
    from hbase_taggregator_spark.catalog.similarity import (
        OPQ_M,
        OPQ_NCODES,
        OPQ_NLIST,
        OPQ_NPROBE,
        OPQ_RERANK_K,
        _lowrank_corpus,
        _opq_rotated_corpus,
    )

    emb = _lowrank_corpus(spark, SF)
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["vec_id"])
             for r in S.l2_topk(emb, q, k=5).collect()}

    def rec(df):
        got = {(r["query_id"], r["vec_id"])
               for r in df.select("query_id", "vec_id").collect()}
        return len(got & exact) / len(exact)

    kw = dict(k=5, m=OPQ_M, n_codes=OPQ_NCODES, n_centroids=OPQ_NLIST,
              n_probe=OPQ_NPROBE, refine_iters=1)
    rot = _opq_rotated_corpus(emb)
    rq = rot.filter(F.col("vec_id") < 10)
    # (a) at the gate's fixed rerank budget, rotation >= residual-only
    plain = rec(ivf_pq(emb, q, residual=True, rerank_k=OPQ_RERANK_K, **kw))
    rotated = rec(ivf_pq(rot, rq, residual=True, rerank_k=OPQ_RERANK_K,
                         **kw))
    assert rotated >= plain
    assert rotated >= 0.9  # the gate floor, re-pinned here


def test_opq_raw_separation_at_census_size(spark):
    """Claim (b) needs the census's 2,000-row fixture: at 500 rows the
    16-codeword books nearly cover each cell's ~31 members and raw
    codes close most of the gap (0.30 vs 0.34 — no contrast). At 2,000
    rows the entanglement costs real bits (census: raw 0.18 vs
    raw+opq 0.62 no-rerank); pin the separation there with loose
    bands. Built from spark.range — same construction as
    _lowrank_corpus, independent of the sf fixture size."""
    from hbase_taggregator_spark.operators import similarity as S
    from hbase_taggregator_spark.catalog.similarity import (
        OPQ_AMP,
        OPQ_M,
        OPQ_NCODES,
        OPQ_NLIST,
        OPQ_NPROBE,
        OPQ_RANK,
    )

    c = (F.col("id") % OPQ_NLIST + 1).cast("double")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            F.sin(c * (i + 1))
            + sum(
                (F.lit(OPQ_AMP)
                 * F.sin((F.col("id") + 1) * (t + 3) * 1.7)
                 * F.sin((t + 1) * (i + 1) * 0.37))
                for t in range(OPQ_RANK)
            )
        ).cast("double"),
    )
    emb = spark.range(2000).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["vec_id"])
             for r in S.l2_topk(emb, q, k=5).collect()}

    def rec(df):
        got = {(r["query_id"], r["vec_id"])
               for r in df.select("query_id", "vec_id").collect()}
        return len(got & exact) / len(exact)

    kw = dict(k=5, m=OPQ_M, n_codes=OPQ_NCODES, n_centroids=OPQ_NLIST,
              n_probe=OPQ_NPROBE, refine_iters=1)
    # the raw stack pairs with a rotation trained on the RAW corpus —
    # the training distribution must be the one the codes will encode
    # (a residual-trained R balances residual energy, not center
    # energy, and does nothing for raw codes: measured 0.18 -> 0.20)
    rot = S.apply_rotation(emb, S.opq_rotation(emb, m=OPQ_M, dim=64))
    rq = rot.filter(F.col("vec_id") < 10)
    raw = rec(ivf_pq(emb, q, **kw))
    raw_rot = rec(ivf_pq(rot, rq, **kw))
    assert raw <= 0.4 and raw_rot >= raw + 0.2
