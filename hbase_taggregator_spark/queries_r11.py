"""Round-11 catalog queries: the banded multi-index Hamming family and
the composed IVF + binary retrieval stack (VERDICT r10 "Next round"
items #1 and #4).

``similarity_binary_banded_radius15`` gates the banded self-join's
COMPLETENESS: all code pairs within Hamming radius 15 found through the
16×4-bit banded equi-join (pigeonhole: ≤ 15 flipped bits cannot touch
all 16 disjoint bands), hash-matched against an oracle that restates
the EXHAUSTIVE pair semantics — any pair the banding missed, or any
phantom pair it invented, breaks the hash.

``similarity_binary_banded_dup_top1`` gates the banded top-k path in
the regime it exists for (near-duplicates): the corpus is the embedding
table UNION an id-shifted exact copy, so every query's Hamming-nearest
neighbor is its duplicate at distance 0 — inside the default 4-band
guarantee radius, so the per-query verified-fallback check PASSES and
the banded candidate join (not the exhaustive cross) produces the gated
rows, hashed against the exhaustive oracle algebra.

``similarity_ivf_binary_recall_at_5`` gates the full composed stack:
two-level IVF assignment (corpus inverted lists + 5-cell query probes,
through the salted top-k plan), mean-threshold binary codes, in-cell
Hamming shortlist of 20, exact decimal-cosine re-rank to 5, recall@5 vs
brute force — every stage restated in DuckDB SQL by composing the
shared ``TWOLEVEL_SQL_CTES`` and ``binary_bits_ctes`` chains.

``embedding_binary_dedup_survivors`` gates the drop-the-larger-id
near-duplicate dedup over the banded radius pairs (SemDeDup's survivor
rule at 24 B/vector), hashed against the exhaustive drop rule.

``similarity_ivf_indexed_recall_at_5`` gates the PERSISTED index path:
cent_id-partitioned parquet built once, probed through the
dynamic-partition-pruned join — row-identical to the in-memory plan,
so it hashes against the SAME flat-IVF oracle as
``similarity_ivf_recall_at_5``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.util import local_df
from hbase_taggregator_spark.oracle_fragments import (
    _SQL_E,
    _ivf_recall_sql,
    TWOLEVEL_NLIST,
    TWOLEVEL_NPROBE,
    TWOLEVEL_NSUPER,
    TWOLEVEL_SQL_CTES,
    binary_bits_ctes,
)
from hbase_taggregator_spark.queries import (
    _register,
    _register_plan_frame,
    load_table,
)

#: radius for the banded-pairs gate: the largest distance the 16×4-bit
#: banding can guarantee (n_bands − 1 = 15) — and, measured, exactly
#: the minimum pairwise code distance at the sf0.01 fixture, so the
#: gate returns real pairs rather than a trivially-empty set
BANDED_RADIUS = 15

#: id shift for the duplicate-union gate's second corpus copy — far
#: above every fixture's id range, so shifted ids never collide
DUP_SHIFT = 100_000

#: the composed-stack gate's dials: queries probe their 5 nearest
#: centroids, the in-cell Hamming shortlist keeps 20 per query (roughly
#: half the probed occupancy at the sf0.01 fixture — a real cut), the
#: exact re-rank returns 5
IVFB_NPROBE = 5
IVFB_RERANK_K = 20
RECALL_K = 5


def _q_banded_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding-code pairs within Hamming radius 15, via the
    multi-index banded self-join at 4-bit bands (16 bands — the
    pigeonhole guarantee covers exactly radius 15)."""
    from hbase_taggregator_spark.operators.similarity import (
        binary_hamming_radius_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return binary_hamming_radius_pairs(
        emb, radius=BANDED_RADIUS, band_bits=4
    ).orderBy("id_a", "id_b")


_register(
    "similarity_binary_banded_radius15",
    _q_banded_radius,
    f"""
    -- EXHAUSTIVE restatement: every pair at hamming <= {BANDED_RADIUS};
    -- the Spark plan finds them through the banded equi-join, and the
    -- pigeonhole guarantee (radius < 16 bands) makes the two sets equal
    WITH {binary_bits_ctes()},
    hd AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  CAST(bit_count(xor(a.w0, b.w0))
                       + bit_count(xor(a.w1, b.w1)) AS BIGINT) AS hamming
           FROM bits a JOIN bits b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, hamming FROM hd
    WHERE hamming <= {BANDED_RADIUS}
    ORDER BY id_a, id_b
    """,
)


def _q_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-code near-duplicate dedup: drop the larger id of every
    code pair within Hamming radius 15 (found via the 16×4-bit banded
    self-join — complete by pigeonhole), survivors hash-gated."""
    from hbase_taggregator_spark.operators.similarity import (
        binary_dedup_survivors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return binary_dedup_survivors(
        emb, radius=BANDED_RADIUS, band_bits=4
    ).orderBy("vec_id")


_register(
    "embedding_binary_dedup_survivors",
    _q_binary_dedup,
    f"""
    -- the EXHAUSTIVE restatement of the drop rule: id_b of every pair
    -- at hamming <= {BANDED_RADIUS} drops; the Spark plan finds the
    -- pairs through the banded equi-join (complete by pigeonhole), so
    -- the survivor sets are equal
    WITH {binary_bits_ctes()},
    hd AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM bits a JOIN bits b ON a.vec_id < b.vec_id
           WHERE bit_count(xor(a.w0, b.w0))
                 + bit_count(xor(a.w1, b.w1)) <= {BANDED_RADIUS})
    SELECT vec_id FROM bits
    WHERE vec_id NOT IN (SELECT id_b FROM hd)
    ORDER BY vec_id
    """,
)


def _q_banded_dup_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming top-1 over a corpus unioned with an id-shifted
    exact copy: each query's nearest code is its duplicate at distance
    0, inside the 4×16-bit banding's guarantee radius — the banded
    index path (no fallback) produces every gated row."""
    from hbase_taggregator_spark.operators.similarity import (
        binary_hamming_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    dup = emb.unionByName(
        emb.select(
            (F.col("vec_id") + DUP_SHIFT).alias("vec_id"), "embedding"
        )
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return binary_hamming_topk(
        dup, queries, k=1, index="banded"
    ).orderBy("query_id")


_DUP_SRC = (
    "(SELECT vec_id, embedding FROM embeddings "
    f"UNION ALL SELECT vec_id + {DUP_SHIFT} AS vec_id, embedding "
    "FROM embeddings)"
)

_register(
    "similarity_binary_banded_dup_top1",
    _q_banded_dup_top1,
    f"""
    -- bits over the DUPLICATE-UNION corpus (means equal the original's
    -- exactly: sums and counts both double), then the EXHAUSTIVE
    -- per-query argmin the banded path must reproduce
    WITH {binary_bits_ctes(_DUP_SRC)},
    hb AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                  CAST(bit_count(xor(q.w0, c.w0))
                       + bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming
           FROM bits q, bits c
           WHERE q.vec_id < 10 AND q.vec_id != c.vec_id)
    SELECT query_id, vec_id, hamming FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, vec_id) AS rk
        FROM hb) WHERE rk = 1
    ORDER BY query_id
    """,
)


def _q_ivf_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the composed IVF + binary stack vs brute-force
    cosine: two-level IVF assignment (corpus inverted lists, 5-cell
    query probes through the salted top-k plan), in-cell Hamming
    shortlist of 20 over the packed mean-threshold codes, exact decimal
    cosine re-rank to 5."""
    from hbase_taggregator_spark.operators.similarity import (
        Codec,
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
    index, codec = build_ivf_index(emb, quant, Codec("binary"))
    approx = ivf_search(
        index, queries, quant, codec, k=RECALL_K, n_probe=IVFB_NPROBE,
        rerank_k=IVFB_RERANK_K,
    )
    return _recall_vs_exact(emb, queries, approx, k=RECALL_K)


_register(
    "similarity_ivf_binary_recall_at_5",
    _q_ivf_binary_recall,
    f"""
    -- the shared two-level CTE chain (corpus assignment at rk = 1,
    -- query probes at rk <= {IVFB_NPROBE}) composed with the shared
    -- binary-bits chain: candidates meet in probed cells, Hamming
    -- shortlists {IVFB_RERANK_K}, exact cosine re-ranks to {RECALL_K},
    -- recall@{RECALL_K} vs brute force is the gated value
    WITH {_SQL_E},
    {TWOLEVEL_SQL_CTES},
    {binary_bits_ctes()},
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
        FROM cscore WHERE vec_id < 10) WHERE rk <= {IVFB_NPROBE}),
    hb AS (
      SELECT p.query_id, a.vec_id,
             bit_count(xor(qb.w0, cb.w0)) + bit_count(xor(qb.w1, cb.w1))
               AS hamming
      FROM qprobe p JOIN assign a ON a.cid = p.cid
      JOIN bits qb ON qb.vec_id = p.query_id
      JOIN bits cb ON cb.vec_id = a.vec_id
      WHERE p.query_id != a.vec_id),
    shortlist AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, vec_id) AS rk
        FROM hb) WHERE rk <= {IVFB_RERANK_K}),
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
    ivb AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM rr) WHERE rk <= {RECALL_K}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN ivb USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(RECALL_K)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """,
)


def _ivf_indexed_frame(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The LIVE serving frame behind ``similarity_ivf_indexed_recall_at_5``:
    build the persisted index under ``workdir`` and return the
    pre-materialization recall frame (the plan a production deployment
    runs against the standing layout — what the plan audit records,
    VERDICT r14 #1)."""
    from hbase_taggregator_spark.operators.similarity import (
        coarse_quantizer,
        ivf_search,
        read_ivf_index,
        write_ivf_index,
    )
    from hbase_taggregator_spark.queries_ext import _recall_vs_exact

    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.orderBy("vec_id")
        .limit(16)
        .select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
        )
    )
    queries = emb.filter(F.col("vec_id") < 10)
    quant = coarse_quantizer(cents)
    write_ivf_index(emb, quant, f"{workdir}/ivf")
    idx, codec = read_ivf_index(spark, f"{workdir}/ivf")
    ivf = ivf_search(idx, queries, quant, codec, k=5, n_probe=4)
    return _recall_vs_exact(emb, queries, ivf, k=5)


def _q_ivf_indexed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of IVF retrieval through a PERSISTED index: the corpus
    assignment is written once as a cent_id-partitioned parquet layout
    (`write_ivf_index`), read back, and probed through the
    dynamic-partition-pruned join (`ivf_search`) — row-identical to the
    in-memory search, so the gate hashes against the SAME
    flat-IVF oracle as `similarity_ivf_recall_at_5`. The write/read
    round-trip is exact (float32 vectors, float64 norms)."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rec = _ivf_indexed_frame(spark, sf_dir, d)
        # materialize before the index directory vanishes (the standing
        # sink-gate pattern; the result is 10 tiny rows)
        out = local_df(spark, rec.collect(), rec.schema)
    return out


_register(
    "similarity_ivf_indexed_recall_at_5",
    _q_ivf_indexed_recall,
    # the SAME oracle as similarity_ivf_recall_at_5: the persisted-index
    # path must be row-identical to the in-memory plan, so any loss,
    # duplication, or precision drift in the partitioned write/read
    # breaks the hash
    _ivf_recall_sql(n_centroids=16, n_probe=4, k=5),
)
_register_plan_frame(
    "similarity_ivf_indexed_recall_at_5", _ivf_indexed_frame
)


# re-apply the gate-window ordering now that round-11 queries are
# registered (tolerant on every import path, same as queries_r3..r10 —
# whichever module finishes last sees the full catalog).
from hbase_taggregator_spark.queries_ext import _apply_gate_window  # noqa: E402

_apply_gate_window(strict=False)
