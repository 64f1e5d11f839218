"""Round-10 catalog queries.

``similarity_twolevel_recall_at_5`` closes the two-level family's last
evidence gap (VERDICT r9 "What's wrong" #3 / "Next round" #2): the
family carried assignment-AGREEMENT numbers (``ivf_assign_two_level``
vs flat assignment, tools/bench_twolevel_r9.json) but no retrieval
recall@k — the ``similarity_*_recall_at_5`` gates measured only the
flat/IVF/PQ paths. This gate runs the full two-level RETRIEVAL loop:
corpus vectors live in their two-level-assigned centroid's inverted
list, each query probes its 5 nearest centroids THROUGH
``ivf_assign_two_level(n_probe=5)`` (which now also exercises the r10
salted two-stage top-k plan end-to-end inside a hash gate), candidates
meet through the ``cent_id`` equi-join, and recall@5 against brute
force is the gated value. The oracle reuses the shared
``TWOLEVEL_SQL_CTES`` chain with the rank predicate at 1 (corpus
assignment) and 5 (query probes) — every step of the approximation is
restated in DuckDB SQL, so the gate is hash-matched, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.oracle_fragments import (
    _SQL_E,
    TWOLEVEL_NLIST,
    TWOLEVEL_NPROBE,
    TWOLEVEL_NSUPER,
    TWOLEVEL_SQL_CTES,
    binary_bits_ctes,
)
from hbase_taggregator_spark.queries import _register, load_table

#: retrieval depth for the recall gate; also the ``n_probe`` handed to
#: ``ivf_assign_two_level`` on the query side, so the salted two-stage
#: top-k (n_probe > 1) plan sits inside this hash gate
RECALL_K = 5


def _q_twolevel_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of two-level-IVF retrieval vs brute-force cosine top-5:
    corpus assigned via ``ivf_assign_two_level(n_probe=1)``, queries
    (vec_id < 10) probe their 5 nearest centroids via
    ``ivf_assign_two_level(n_probe=5)``, candidates join on cent_id,
    exact-decimal cosine ranks the survivors."""
    from hbase_taggregator_spark.operators.similarity import (
        build_ivf_index,
        coarse_quantizer,
        ivf_search,
    )
    from hbase_taggregator_spark.queries_ext import _recall_vs_exact

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < TWOLEVEL_NLIST).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    quant = coarse_quantizer(
        cents, two_level=True,
        n_super=TWOLEVEL_NSUPER, n_super_probe=TWOLEVEL_NPROBE,
    )
    index, _ = build_ivf_index(emb, quant)
    approx = ivf_search(index, queries, quant, k=RECALL_K, n_probe=RECALL_K)
    return _recall_vs_exact(emb, queries, approx, k=RECALL_K)


_register(
    "similarity_twolevel_recall_at_5",
    _q_twolevel_recall,
    f"""
    -- the shared two-level CTE chain (blocks → decimal super means →
    -- both nearest-super argmins → super-cell candidate join → exact
    -- candidate cosines), then: corpus assignment at rk = 1, query
    -- probes at rk <= {RECALL_K}, inverted-list retrieval, recall@5
    WITH {_SQL_E},
    {TWOLEVEL_SQL_CTES},
    cscore AS (
      SELECT cdot.vec_id, cid, d / (nv.nrm * nc.nrm) AS ccos
      FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
                JOIN norms nc ON nc.vec_id = cid),
    assign AS (SELECT vec_id, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cid) AS rk
        FROM cscore) WHERE rk = 1),
    qprobe AS (SELECT vec_id AS query_id, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cid) AS rk
        FROM cscore WHERE vec_id < 10) WHERE rk <= {RECALL_K}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id),
    exact AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored) WHERE rk <= {RECALL_K}),
    twos AS (
      SELECT s.query_id, s.vec_id, s.cosine
      FROM scored s JOIN assign a ON a.vec_id = s.vec_id
                    JOIN qprobe p ON p.query_id = s.query_id
                                 AND p.cid = a.cid),
    two AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM twos) WHERE rk <= {RECALL_K}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN two USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(RECALL_K)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """,
)


#: binary-retrieval sizing for the gates: Hamming shortlist of 50,
#: exact-cosine re-rank to 5 — a real two-stage cut at every fixture
#: (corpus ≥ 500 vectors)
BINARY_RERANK_K = 50

#: the shared filtered-unnest + per-dimension-mean + bit-packing CTE
#: chain both binary gates build on — moved to oracle_fragments (leaf
#: module) in r11 because queries_r11's gates also need it at module
#: top and the query modules form an import ring; the algebra is
#: unchanged (see :func:`oracle_fragments.binary_bits_ctes`).
_BINARY_BITS_CTES = binary_bits_ctes()


def _q_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-threshold binary quantization of the embedding corpus: two
    packed 32-bit words per vector, hash-gated directly — one flipped
    bit anywhere breaks the gate."""
    from hbase_taggregator_spark.operators.similarity import (
        binary_quantize,
        dimension_means,
    )
    from hbase_taggregator_spark.util import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    thr = dimension_means(emb)
    return binary_quantize(
        ensure_parallelism(emb), thresholds=thr
    ).orderBy("vec_id")


_register(
    "embedding_binary_quantize_words",
    _q_binary_quantize,
    f"""
    WITH {_BINARY_BITS_CTES}
    SELECT vec_id, w0, w1 FROM bits ORDER BY vec_id
    """,
)


def _q_binary_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of two-stage binary retrieval vs brute-force cosine:
    Hamming over mean-threshold sign bits shortlists 50 candidates per
    query (XOR + bit_count over 8-byte words — 3% of the float payload
    moves), exact decimal cosine re-ranks to 5."""
    from hbase_taggregator_spark.operators.similarity import (
        binary_hamming_topk,
    )
    from hbase_taggregator_spark.queries_ext import _recall_vs_exact

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = binary_hamming_topk(
        emb, queries, k=RECALL_K, rerank_k=BINARY_RERANK_K
    )
    return _recall_vs_exact(emb, queries, approx, k=RECALL_K)


_register(
    "similarity_binary_hamming_recall_at_5",
    _q_binary_hamming_recall,
    f"""
    WITH {_SQL_E},
    {_BINARY_BITS_CTES},
    hb AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1))
               AS hamming
      FROM bits q, bits c
      WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
    shortlist AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, vec_id) AS rk
        FROM hb) WHERE rk <= {BINARY_RERANK_K}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id),
    exact AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored) WHERE rk <= {RECALL_K}),
    rr AS (
      SELECT s.query_id, s.vec_id, s.cosine
      FROM scored s JOIN shortlist f USING (query_id, vec_id)),
    binq AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM rr) WHERE rk <= {RECALL_K}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN binq USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(RECALL_K)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """,
)


# re-apply the gate-window ordering now that round-10 queries are
# registered (tolerant on every import path, same as queries_r3..r9 —
# whichever module finishes last sees the full catalog).
from hbase_taggregator_spark.queries_ext import _apply_gate_window  # noqa: E402

_apply_gate_window(strict=False)
