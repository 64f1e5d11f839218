"""Round-15 catalog queries (VERDICT r14 "Next round" #3 — the OPQ
stretch, censused and landed where it wins).

``similarity_opq_lowrank_gain`` is a standing retrieval-quality gate
(the floor-gate pattern: the approximation is CHECKED, not reproduced —
the oracle pins the verdict row) on OPQ-style rotation
(:func:`opq_rotation` — Ge et al. 2014 parametric OPQ: PCA +
eigenvalue allocation) in the regime the r15 census
(tools/bench_opq_clustered_r15.json) shows it exists for: correlated
LOW-RANK within-cluster structure spread across all dimensions, at a
TIGHT code budget (m=8 × 16 codes = 32-bit codes). There, natural
contiguous chunking hands every subspace an entangled mixture of all
factors (recall@5 0.18 raw / 0.80 residual no-rerank) while rotation
aligns factors with subspaces (0.62 raw+OPQ; residual+OPQ 0.90, and
1.00 vs 0.96 at the fixed rerank_k=20 budget — measured at BOTH the
500- and 2000-row fixture sizes). On the near-white residuals of the
isotropic fixture and the flat testdata corpus the same census
documents an honest no-win — which is exactly why this gate derives a
deterministic low-rank corpus from the embeddings table's ids instead
of gating rotation on data where it has nothing to reorder.

The fixture is pure Spark expressions keyed by ``vec_id`` (no RNG):
cluster centers sin((c+1)(i+1)), plus a rank-8 mixture whose factor t
loads sin((vec_id+1)(t+3)·1.7) on the row and profiles
sin((t+1)(i+1)·0.37) across dims — every factor touches every dim.
Because :func:`opq_rotation` is orthogonal, rotating corpus AND
queries preserves every exact L2 distance (ground truth is computed on
the raw fixture); only the code-bit allocation moves, which is the
quantity under test.

Gate cost discipline: the corpus is CAPPED at the 500-id fixture size
at every sf (the census margins are identical at 500 and 2,000 rows)
and the gate runs ONE stack — the rotated one — against the absolute
floor; the comparative rotation-vs-residual-only claim is pinned as a
deterministic regression test
(tests/test_round15.py::test_opq_beats_plain_residual_on_lowrank) and
in the committed census, so the catalog gate stays in the same cost
band as the other retrieval floors instead of doubling it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.queries import _register, load_table
from hbase_taggregator_spark.queries_r13 import RECALL_K, _recall_frame
from hbase_taggregator_spark.util import local_df

#: the censused tight-budget dials where rotation has bits to win back
OPQ_M = 8
OPQ_NCODES = 16
OPQ_NLIST = 16
OPQ_NPROBE = 4
OPQ_RERANK_K = 20
OPQ_RANK = 8
OPQ_AMP = 0.12

#: absolute floor for the rotated stack at the gate dials: measured
#: 1.00 at both fixture sizes; one-hit-per-two-queries of slack
OPQ_RECALL_FLOOR = 0.9

#: gate fixture cap (ids below this from the embeddings table): the
#: smallest committed fixture size — keeps the gate's cost flat across
#: sf while the census holds the 2,000-row point
OPQ_CORPUS_CAP = 500


def _lowrank_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The census's rank-8 fixture anchored to the embeddings table's
    ids, capped at :data:`OPQ_CORPUS_CAP` rows — deterministic,
    engine-portable, RNG-free."""
    ids = load_table(spark, sf_dir, "embeddings").select("vec_id").filter(
        F.col("vec_id") < OPQ_CORPUS_CAP
    )
    c = (F.col("vec_id") % OPQ_NLIST + 1).cast("double")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            F.sin(c * (i + 1))
            + sum(
                (F.lit(OPQ_AMP)
                 * F.sin((F.col("vec_id") + 1) * (t + 3) * 1.7)
                 * F.sin((t + 1) * (i + 1) * 0.37))
                for t in range(OPQ_RANK)
            )
        ).cast("double"),
    )
    return ids.select("vec_id", vec.alias("embedding"))


def _opq_rotated_corpus(emb: DataFrame) -> DataFrame:
    """The OPQ-IVFADC construction over the low-rank fixture: rotation
    trained on the RESIDUAL distribution, applied globally (R commutes
    with the cell-mean subtract), so the unchanged residual stack runs
    on the rotated frame."""
    from hbase_taggregator_spark.operators.similarity import (
        _cell_mean_centroids,
        _ivf_residuals,
        apply_rotation,
        ivf_assign,
        opq_rotation,
    )

    cents = emb.orderBy("vec_id").limit(OPQ_NLIST).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    assigned = ivf_assign(emb, cents, n_probe=1)
    means = _cell_mean_centroids(assigned, "embedding")
    resid = _ivf_residuals(assigned, means, "embedding").select(
        "vec_id", F.col("__rvec").alias("embedding")
    )
    rot = apply_rotation(emb, opq_rotation(resid, m=OPQ_M, dim=64))
    # Materialize the rotated fixture ONCE (500 × 64 doubles — smaller
    # than the codebooks the index build collects anyway): left live, every
    # construction job downstream (centroid collect, cell means,
    # codebook init, Lloyd refinement, the final plan, and the rotated
    # query filter) re-evaluates the dim² rotation as an interpreted
    # higher-order projection over the whole fixture — ~5 redundant
    # passes per gate run (r15 profile: 13.7 s construction, most of it
    # this). collect() round-trips IEEE doubles exactly, so the rebuilt
    # frame is bit-identical and the oracle contract is untouched.
    rows = rot.collect()
    # driver-materialization guard (r15 ADVICE): the fixture is capped
    # at OPQ_CORPUS_CAP rows by construction (_lowrank_corpus filters
    # vec_id < cap at every sf), so this collect is structurally
    # bounded — fail loudly if a future edit un-caps it rather than
    # silently scaling driver memory with the corpus
    if len(rows) > 4 * OPQ_CORPUS_CAP:
        raise ValueError(
            f"_opq_rotated_corpus collected {len(rows)} rows — the gate "
            f"fixture contract caps the corpus at {OPQ_CORPUS_CAP}; "
            "materializing an uncapped corpus on the driver does not "
            "scale (persist to parquet and rescan instead)"
        )
    return local_df(emb.sparkSession, rows, rot.schema)


def _q_opq_lowrank_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rotated residual stack must clear the committed floor at the
    censused winning dials (ground truth on the RAW fixture — exact
    distances are rotation-invariant, so any floor failure is the
    rotation or the code algebra, never the fixture)."""
    from hbase_taggregator_spark.operators.similarity import (
        Codec,
        build_ivf_index,
        coarse_quantizer,
        ivf_search,
        l2_topk,
        seed_centroids,
    )

    # NOTE (r16): materializing the raw fixture here as a one-slice
    # local frame was tried and REVERTED — it removes the repeated
    # interpreted-sin evaluation across construction jobs, but a
    # one-slice frame also serializes every compute-heavy downstream
    # pass (assign scoring, rotation sample, cell means) onto a single
    # core, and the measured gate wall got WORSE (9.9 → 15.2 s
    # construct). The rotated-corpus materialization below keeps the
    # parallel scan-side fixture for the heavy passes.
    emb = _lowrank_corpus(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = l2_topk(emb, queries, k=RECALL_K).select("query_id", "vec_id")
    rot = _opq_rotated_corpus(emb)
    quant = coarse_quantizer(seed_centroids(rot, OPQ_NLIST))
    index, codec = build_ivf_index(
        rot, quant,
        Codec(
            "pq", m=OPQ_M, n_codes=OPQ_NCODES, refine_iters=1,
            residual=True,
        ),
    )
    rotated = ivf_search(
        index, rot.filter(F.col("vec_id") < 10), quant, codec, k=RECALL_K,
        n_probe=OPQ_NPROBE, rerank_k=OPQ_RERANK_K,
    ).select("query_id", "vec_id")
    rec = _recall_frame(spark, queries, rotated, exact)
    return rec.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg("recall_at_5") >= F.lit(OPQ_RECALL_FLOOR)).alias(
            "recall_floor_met"
        ),
    ).select(
        F.lit(OPQ_M).alias("m"),
        F.lit(OPQ_NCODES).alias("n_codes"),
        F.lit(OPQ_NPROBE).alias("n_probe"),
        F.lit(OPQ_RERANK_K).alias("rerank_k"),
        F.lit(OPQ_RECALL_FLOOR).alias("floor"),
        "n_queries",
        "recall_floor_met",
    )


_register(
    "similarity_opq_lowrank_gain",
    _q_opq_lowrank_gain,
    f"""
    SELECT {OPQ_M} AS m, {OPQ_NCODES} AS n_codes,
           {OPQ_NPROBE} AS n_probe, {OPQ_RERANK_K} AS rerank_k,
           CAST({OPQ_RECALL_FLOOR} AS DOUBLE) AS floor,
           CAST(10 AS BIGINT) AS n_queries,
           TRUE AS recall_floor_met
    """,
)


# re-apply the gate-window ordering now that round-15 queries are
# registered (tolerant on every import path, same as queries_r3..r14 —
# whichever module finishes last sees the full catalog).
from hbase_taggregator_spark.queries_ext import _apply_gate_window  # noqa: E402

_apply_gate_window(strict=False)
