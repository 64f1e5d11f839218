"""Round-13 catalog queries (VERDICT r12 "Next round" #1, #5).

``similarity_ivf_pq_rerank_recall_at_5`` hash-gates the IVFADC+R row
algebra (Jégou et al.'s re-ranked variant — the production deployment
shape): the ADC pass keeps a top-``rerank_k`` shortlist per query and
an exact squared-L2 second pass re-ranks it — every stage (refined
codebooks, cell-restricted ADC, shortlist, exact re-rank, ground
truth) restated in SQL at the shared gate dials.

``similarity_ivf_pq_recall_floor`` is the standing retrieval-QUALITY
gate on the IVFADC stack — the exact hole VERDICT r12 #1 named: every
PQ gate was row-algebra-pinned, so a refactor that degrades retrieval
(bad refinement, LUT drift, probe off-by-one) kept all hashes green.
The committed operating point was PRICED by the r13 census
(tools/bench_pq_r13.json + the rerank sweep): m=16 × 256 codewords
(128-bit codes — the broadcast codebook encode in production form)
with the
corpus-proportional 4% shortlist reads mean recall@5 of 0.94 / 0.92 /
1.00 at sf0.001 / 0.01 / 0.1; the committed floor is 0.8. The oracle
pins the PASS verdict row (the percentile-gate pattern — the
approximation is CHECKED, not reproduced). r14 re-dialed the committed
point to RESIDUAL codes + a FIXED rerank_k=100 (same measured recall
at every sf, tools/bench_pq_residual_r14.json), retiring the
O(corpus)-per-query shortlist the r13 VERDICT flagged.

``pq_code_collapse_census`` hash-gates the dup-collapse detector
(VERDICT r12 #5): per-subspace (n_codes_used, top_code_share) over
the refined encode — the observable that flips when near-duplicate
copy blocks collapse to one code per subspace (the r12 hard-fixture
failure, recall 0.04 → 0.008 with every row hash green).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.oracle_fragments import (
    _SQL_E,
    pq_refined_ctes,
)
from hbase_taggregator_spark.queries import _register, load_table

RECALL_K = 5

#: the rerank row-algebra gate's dials: the r12 IVFADC gate sizing
#: (m=4 × 16 codewords inside 16 cells / 4 probes) plus the r11
#: shortlist convention rerank_k=20 — small enough for an exact SQL
#: restatement, and distinct from the floor gate's production dials
IVFPQR_M = 4
IVFPQR_NCODES = 16
IVFPQR_NPROBE = 4
IVFPQR_RERANK_K = 20

#: the floor gate's committed operating point (censused, not asserted
#: — tools/bench_pq_residual_r14.json): 128-bit RESIDUAL codes (x −
#: cell-mean — the r14 production form), one Lloyd refinement, 4/16
#: cells probed, and a FIXED exact-rerank budget. r13 scaled the
#: shortlist corpus-proportionally (max(20, corpus/25)) — an
#: O(corpus·dim)-per-query second pass that the r13 VERDICT correctly
#: called a 100×-scale-killer; the r14 sweep shows the fixed budget
#: matches the legacy point at EVERY measured sf (recall@5 0.94 /
#: 0.92 / 1.00 at sf0.001 / 0.01 / 0.1, identical to corpus/25) —
#: the 0.8 floor holds with ≥ 0.12 margin everywhere, and the rerank
#: cost is now constant per query.
IVFPQ_FLOOR_M = 16
IVFPQ_FLOOR_NCODES = 256
IVFPQ_FLOOR_NPROBE = 4
IVFPQ_RECALL_FLOOR = 0.8
IVFPQ_FLOOR_RERANK_K = 100


def _recall_frame(spark, queries, approx, exact):
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = queries.select(F.col("vec_id").alias("query_id"))
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) / F.lit(float(RECALL_K))).alias(
            "recall_at_5"
        ),
    )


def _q_ivf_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of IVFADC+R vs exact Euclidean top-k: the composed
    stack's ADC shortlist (top rerank_k per query) re-ranked by the
    exact decimal-dot squared-L2 — the second pass reads full-width
    vectors once, candidates broadcast."""
    from hbase_taggregator_spark.operators.similarity import (
        Codec,
        build_ivf_index,
        coarse_quantizer,
        ivf_search,
        l2_topk,
        seed_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    quant = coarse_quantizer(seed_centroids(emb, 16))
    index, codec = build_ivf_index(
        emb, quant,
        Codec("pq", m=IVFPQR_M, n_codes=IVFPQR_NCODES, refine_iters=1),
    )
    pq = ivf_search(
        index, queries, quant, codec, k=RECALL_K, n_probe=IVFPQR_NPROBE,
        rerank_k=IVFPQR_RERANK_K,
    ).select("query_id", "vec_id")
    exact = l2_topk(emb, queries, k=RECALL_K).select("query_id", "vec_id")
    return _recall_frame(spark, queries, pq, exact)


_IVFPQ_RERANK_RECALL_SQL = f"""
    -- the r12 composed-IVFADC chain (flat cosine IVF cells, refined-PQ
    -- ADC restricted to probed cells) EXTENDED by the +R stage: the
    -- per-query top-{IVFPQR_RERANK_K} ADC shortlist re-ranked by exact
    -- squared-L2, ground truth unchanged
    WITH {_SQL_E},
    {pq_refined_ctes(m=IVFPQR_M, n_codes=IVFPQR_NCODES)},
    cd AS (
      SELECT v.vec_id, c.vec_id AS cent_id,
             CAST(SUM(CAST(v.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS cdot
      FROM e v JOIN e c ON v.i = c.i AND c.vec_id < 16
      GROUP BY 1, 2),
    cscore AS (
      SELECT vd.vec_id, cent_id, cdot / (nv.nrm * nc.nrm) AS ccos
      FROM cd vd JOIN norms nv ON nv.vec_id = vd.vec_id
                 JOIN norms nc ON nc.vec_id = cent_id),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore) WHERE rk = 1),
    probes AS (
      SELECT vec_id AS query_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore WHERE vec_id < 10) p WHERE rk <= {IVFPQR_NPROBE}),
    lut AS (
      SELECT vec_id AS query_id, s, code, d
      FROM encd WHERE vec_id < 10),
    adc AS (
      SELECT l.query_id, enc.vec_id,
             CAST(SUM(CAST(CAST(l.d AS VARCHAR) AS DECIMAL(18,12)))
               AS DOUBLE) AS adc_dist
      FROM enc JOIN lut l ON l.s = enc.s AND l.code = enc.code
      JOIN assign a ON a.vec_id = enc.vec_id
      JOIN probes p ON p.query_id = l.query_id AND p.cent_id = a.cent_id
      WHERE l.query_id != enc.vec_id
      GROUP BY 1, 2),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, vec_id) AS rk
        FROM adc) WHERE rk <= {IVFPQR_RERANK_K}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    l2s AS (
      SELECT query_id, d.vec_id,
             nq.nrm * nq.nrm + nc.nrm * nc.nrm - 2 * dot AS d2
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id),
    rer AS (
      SELECT l.query_id, l.vec_id, l.d2
      FROM l2s l JOIN cand USING (query_id, vec_id)),
    pqr AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY d2, vec_id) AS rk
        FROM rer) WHERE rk <= {RECALL_K}),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY d2, vec_id) AS rk
        FROM l2s) WHERE rk <= {RECALL_K}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN pqr USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(RECALL_K)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """

_register(
    "similarity_ivf_pq_rerank_recall_at_5",
    _q_ivf_pq_rerank_recall,
    _IVFPQ_RERANK_RECALL_SQL,
)


def _q_ivf_pq_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing retrieval-quality floor on the IVFADC+R stack at the
    censused production point (m=16 × 256 RESIDUAL codewords — the
    broadcast codebook strategy — one Lloyd refinement, 4/16 probes,
    FIXED rerank_k=100): mean recall@5 vs exact Euclidean top-k must
    clear 0.8. The r14 re-dial (tools/bench_pq_residual_r14.json)
    retired the r13 corpus-proportional shortlist: the fixed budget
    reads the same recall at every measured sf, and the gate no longer
    institutionalizes an O(corpus)-per-query second pass. The
    approximation is CHECKED, not reproduced — the oracle pins the
    verdict row."""
    from hbase_taggregator_spark.operators.similarity import (
        Codec,
        build_ivf_index,
        coarse_quantizer,
        ivf_search,
        l2_topk,
        seed_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    quant = coarse_quantizer(seed_centroids(emb, 16))
    index, codec = build_ivf_index(
        emb, quant,
        Codec(
            "pq", m=IVFPQ_FLOOR_M, n_codes=IVFPQ_FLOOR_NCODES,
            refine_iters=1, residual=True,
        ),
    )
    pq = ivf_search(
        index, queries, quant, codec, k=RECALL_K,
        n_probe=IVFPQ_FLOOR_NPROBE, rerank_k=IVFPQ_FLOOR_RERANK_K,
    ).select("query_id", "vec_id")
    exact = l2_topk(emb, queries, k=RECALL_K).select("query_id", "vec_id")
    rec = _recall_frame(spark, queries, pq, exact)
    return rec.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg("recall_at_5") >= F.lit(IVFPQ_RECALL_FLOOR)).alias(
            "recall_floor_met"
        ),
    ).select(
        F.lit(IVFPQ_FLOOR_M).alias("m"),
        F.lit(IVFPQ_FLOOR_NCODES).alias("n_codes"),
        F.lit(IVFPQ_FLOOR_NPROBE).alias("n_probe"),
        F.lit(IVFPQ_FLOOR_RERANK_K).alias("rerank_k"),
        F.lit(True).alias("residual"),
        F.lit(IVFPQ_RECALL_FLOOR).alias("floor"),
        "n_queries",
        "recall_floor_met",
    )


_register(
    "similarity_ivf_pq_recall_floor",
    _q_ivf_pq_floor,
    f"""
    SELECT {IVFPQ_FLOOR_M} AS m, {IVFPQ_FLOOR_NCODES} AS n_codes,
           {IVFPQ_FLOOR_NPROBE} AS n_probe,
           {IVFPQ_FLOOR_RERANK_K} AS rerank_k,
           TRUE AS residual,
           CAST({IVFPQ_RECALL_FLOOR} AS DOUBLE) AS floor,
           CAST(10 AS BIGINT) AS n_queries,
           TRUE AS recall_floor_met
    """,
)


def _q_pq_code_collapse_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace code-utilization census over the refined encode —
    the dup-collapse observable (n_codes_used ≪ codebook size or
    top_code_share → 1.0 means the codebook cannot discriminate:
    route to the binary/Hamming family or dedup before training)."""
    from hbase_taggregator_spark.operators.similarity import (
        pq_code_census,
        pq_codebooks,
        pq_encode,
        pq_refine_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, IVFPQR_M, IVFPQR_NCODES)
    books = pq_refine_codebooks(emb, books, IVFPQR_M, iters=1)
    return pq_code_census(
        pq_encode(emb, books, IVFPQR_M), m=IVFPQR_M
    ).select(
        F.col("s").cast("int").alias("s"), "n_codes_used", "top_code_share"
    )


_register(
    "pq_code_collapse_census",
    _q_pq_code_collapse_census,
    f"""
    WITH {_SQL_E},
    {pq_refined_ctes(m=IVFPQR_M, n_codes=IVFPQR_NCODES)},
    counts AS (SELECT s, code, COUNT(*) AS c FROM enc GROUP BY 1, 2)
    SELECT CAST(s AS INTEGER) AS s,
           CAST(COUNT(*) AS BIGINT) AS n_codes_used,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS top_code_share
    FROM counts GROUP BY s ORDER BY s
    """,
)


# re-apply the gate-window ordering now that round-13 queries are
# registered (tolerant on every import path, same as queries_r3..r12 —
# whichever module finishes last sees the full catalog).
from hbase_taggregator_spark.queries_ext import _apply_gate_window  # noqa: E402

_apply_gate_window(strict=False)
