"""Round-14 catalog queries (VERDICT r13 "Next round" #2).

``similarity_ivf_pq_residual_recall_at_5`` hash-gates the RESIDUAL
IVFADC row algebra — the actual Jégou et al. construction the r13
stack approximated with raw-vector codes: every vector's fine code is
trained on and encodes x − mean(cell(x)) (the assigned cell's Lloyd
mean — see ``_cell_mean_centroids`` for why the cosine seed vectors
are the WRONG residual reference on this engine), and each query
builds one ADC LUT per probed cell from its own residual q − mean(c).
Every stage is restated in SQL at the shared small gate dials: cosine
assignment, decimal-exact cell means, residual components, the
residual-sourced sampling-init + one-Lloyd-refinement codebook chain
(``pq_refined_ctes(src="er", full_precision_src=True)`` — residual
components are computed doubles, so the init products and refined-mean
sums VARCHAR-route like every computed-value product), per-(query,
cell) LUTs, the (cell, s, code) ADC join whose keying IS the probe
restriction, and exact-Euclidean ground truth over the RAW vectors.

``similarity_ivf_pq_residual_indexed_recall_at_5`` gates the same
stack SERVED from the persisted ``pq_residual=True`` index layout
(codes + ``_codebooks`` + ``_cell_means`` sidecars; partition-pruned
probing) — sharing the residual oracle, with the indexed path
row-pinned to the in-memory plan in tests/test_round14.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.util import local_df
from hbase_taggregator_spark.oracle_fragments import (
    _SQL_E,
    pq_refined_ctes,
)
from hbase_taggregator_spark.queries import (
    _register,
    _register_plan_frame,
    load_table,
)
from hbase_taggregator_spark.queries_r13 import (
    IVFPQR_M,
    IVFPQR_NCODES,
    IVFPQR_NPROBE,
    RECALL_K,
    _recall_frame,
)

#: subspace width at the shared gate dials (dim=64, m=4)
_SUB = 64 // IVFPQR_M


def _q_ivf_pq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of residual-encoded IVFADC vs exact Euclidean top-k —
    the residual sibling of ``similarity_ivf_pq_recall_at_5``, at the
    same dials, refine_iters=1 (the codebook chain runs on residual
    vectors)."""
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
            "pq", m=IVFPQR_M, n_codes=IVFPQR_NCODES, refine_iters=1,
            residual=True,
        ),
    )
    pq = ivf_search(
        index, queries, quant, codec, k=RECALL_K, n_probe=IVFPQR_NPROBE
    ).select("query_id", "vec_id")
    exact = l2_topk(emb, queries, k=RECALL_K).select("query_id", "vec_id")
    return _recall_frame(spark, queries, pq, exact)


_IVFPQ_RESIDUAL_RECALL_SQL = f"""
    -- the r13 composed-IVFADC chain with RESIDUAL fine codes: cosine
    -- cells, decimal-exact cell means, x − mean(cell(x)) through the
    -- refined-codebook chain, one LUT per (query, probed cell) from
    -- q − mean(cell); ground truth unchanged (exact L2 on RAW vectors)
    WITH {_SQL_E},
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
    cmean AS (
      SELECT a.cent_id, v.i,
             CAST(SUM(CAST(v.v AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS v
      FROM assign a JOIN e v ON v.vec_id = a.vec_id
      GROUP BY 1, 2),
    er AS (
      SELECT v.vec_id, v.i, v.v - m.v AS v
      FROM e v JOIN assign a ON a.vec_id = v.vec_id
               JOIN cmean m ON m.cent_id = a.cent_id AND m.i = v.i),
    {pq_refined_ctes(m=IVFPQR_M, n_codes=IVFPQR_NCODES, src="er",
                     full_precision_src=True)},
    probes AS (
      SELECT vec_id AS query_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore WHERE vec_id < 10) p WHERE rk <= {IVFPQR_NPROBE}),
    qr AS (
      SELECT p.query_id, p.cent_id, v.i, v.v - m.v AS v
      FROM probes p JOIN e v ON v.vec_id = p.query_id
                    JOIN cmean m ON m.cent_id = p.cent_id AND m.i = v.i),
    qsub AS (
      SELECT query_id, cent_id, (i - 1) // {_SUB} AS s, i, v FROM qr),
    lut AS (
      SELECT q.query_id, q.cent_id, c.s, c.code,
             CAST(SUM(CAST(CAST((q.v - c.v) * (q.v - c.v) AS VARCHAR)
                           AS DECIMAL(18,12))) AS DOUBLE) AS d
      FROM qsub q JOIN cb1 c ON c.s = q.s AND c.i = q.i
      GROUP BY 1, 2, 3, 4),
    adc AS (
      SELECT l.query_id, enc.vec_id,
             CAST(SUM(CAST(CAST(l.d AS VARCHAR) AS DECIMAL(18,12)))
               AS DOUBLE) AS adc_dist
      FROM enc JOIN assign a ON a.vec_id = enc.vec_id
      JOIN lut l ON l.cent_id = a.cent_id AND l.s = enc.s
                AND l.code = enc.code
      WHERE l.query_id != enc.vec_id
      GROUP BY 1, 2),
    appx AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, vec_id) AS rk
        FROM adc) WHERE rk <= {RECALL_K}),
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
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY d2, vec_id) AS rk
        FROM l2s) WHERE rk <= {RECALL_K}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN appx USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(RECALL_K)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """

_register(
    "similarity_ivf_pq_residual_recall_at_5",
    _q_ivf_pq_residual_recall,
    _IVFPQ_RESIDUAL_RECALL_SQL,
)


def _ivf_pq_residual_indexed_frame(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The LIVE serving frame behind
    ``similarity_ivf_pq_residual_indexed_recall_at_5``: build the
    persisted ``pq_residual=True`` layout under ``workdir``, return the
    pre-materialization recall frame (what the plan audit records —
    VERDICT r14 #1)."""
    from hbase_taggregator_spark.operators.similarity import (
        Codec,
        coarse_quantizer,
        ivf_search,
        l2_topk,
        read_ivf_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = emb.orderBy("vec_id").limit(16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    quant = coarse_quantizer(cents)
    write_ivf_index(
        emb, quant, f"{workdir}/ivfpqr",
        Codec(
            "pq", m=IVFPQR_M, n_codes=IVFPQR_NCODES, refine_iters=1,
            residual=True,
        ),
    )
    idx, codec = read_ivf_index(spark, f"{workdir}/ivfpqr")
    pq = ivf_search(
        idx, queries, quant, codec, k=RECALL_K, n_probe=IVFPQR_NPROBE
    ).select("query_id", "vec_id")
    exact = l2_topk(emb, queries, k=RECALL_K).select(
        "query_id", "vec_id"
    )
    return _recall_frame(spark, queries, pq, exact)


def _q_ivf_pq_residual_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The residual IVFADC stack served from a PERSISTED
    ``pq_residual=True`` :func:`write_ivf_index` layout — assignment,
    cell means, AND residual encoding all amortized to build time; the
    query batch reads codes partition-pruned to probed cells and builds
    its per-cell LUTs from the STORED means + codebooks. Shares the
    residual oracle: the indexed path is row-pinned to the in-memory
    plan (tests/test_round14.py), the r12 indexed-gate discipline."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rec = _ivf_pq_residual_indexed_frame(spark, sf_dir, d)
        # materialize before the index directory vanishes
        out = local_df(spark, rec.collect(), rec.schema)
    return out


_register(
    "similarity_ivf_pq_residual_indexed_recall_at_5",
    _q_ivf_pq_residual_indexed,
    _IVFPQ_RESIDUAL_RECALL_SQL,
)
_register_plan_frame(
    "similarity_ivf_pq_residual_indexed_recall_at_5",
    _ivf_pq_residual_indexed_frame,
)


# re-apply the gate-window ordering now that round-14 queries are
# registered (tolerant on every import path, same as queries_r3..r13 —
# whichever module finishes last sees the full catalog).
from hbase_taggregator_spark.queries_ext import _apply_gate_window  # noqa: E402

_apply_gate_window(strict=False)
