"""Round-12 catalog queries (VERDICT r11 "Next round" #1, #5, #6).

``similarity_ivf_binary_indexed_recall_at_5`` gates the composed
IVF + binary stack served from the PERSISTED ``binary=True`` index:
corpus assignment and 1-bit quantization are both amortized to build
time, the 24 B first pass runs off the standing layout through the
dynamic-partition-pruned probe join, and the exact re-rank prunes to
the same probed cells via the (cent_id, id) join. Row-identical to the
in-memory flat stack, so it hashes against the shared
``_ivf_binary_recall_sql`` algebra (the ``_ivf_recall_sql`` sharing
discipline).

``embedding_binary_incremental_admitted`` gates batch admission
against a standing binary band index: the corpus's codes live exploded
in (band_idx, band_val) bucket directories with the thresholds
sidecar'd; a batch quantizes against the STORED codebook, broadcasts
its own band rows into the partition-pruned equi-join, and a batch id
is admitted iff NO smaller id (indexed or earlier-batch) sits within
Hamming radius — which the oracle restates as the EXHAUSTIVE
drop-the-larger-id rule on the full table, restricted to batch ids:
admission ≡ full recompute on the union.

``similarity_ivf_binary_recall_floor`` is the standing
retrieval-QUALITY gate on the composed stack (the
``percentile_approx_accuracy_gate`` pattern): at the committed
operating point (nlist=16, n_probe=4, rerank_k=20) the stack's mean
recall@5 vs brute force must clear the committed floor — the oracle
pins the PASS verdict, so a refactor that silently degrades retrieval
(wrong thresholds, broken shortlist, off-by-one probe) flips the gate
red even though every row-algebra gate upstream still hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.util import local_df
from hbase_taggregator_spark.oracle_fragments import (
    _SQL_E,
    _ivf_binary_recall_sql,
    binary_bits_ctes,
    pq_refined_ctes,
)
from hbase_taggregator_spark.queries import (
    _register,
    _register_plan_frame,
    load_table,
)

#: the indexed composed-stack gate's dials — the FLAT fixture
#: convention (first-16 centroids, 4 probes) with the r11 shortlist
IVFB_IDX_NPROBE = 4
IVFB_IDX_RERANK_K = 20
RECALL_K = 5

#: committed retrieval-quality floor for the composed stack at the
#: operating point above: measured mean recall@5 is 0.62 at BOTH the
#: sf0.001 and sf0.01 fixtures (deterministic — every stage tiebreaks);
#: the floor sits one recall quantum (1 hit / 50) below, so any change
#: that costs even two hits across the ten queries fails the gate
IVFB_RECALL_FLOOR = 0.6

#: admission gate split: the standing corpus is vec_id < 400, the
#: admission batch vec_id >= 400 — the batch-ids-exceed-indexed-ids
#: contract binary_incremental_admitted documents (500 vectors at both
#: gate fixtures)
ADMIT_SPLIT = 400

#: admission radius/width: the r11 banded-family convention (16×4-bit
#: bands guarantee radius 15 by pigeonhole)
ADMIT_RADIUS = 15
ADMIT_BAND_BITS = 4


def _ivf_binary_indexed_frame(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The LIVE serving frame behind
    ``similarity_ivf_binary_indexed_recall_at_5``: build the persisted
    binary index under ``workdir``, return the pre-materialization
    recall frame (what the plan audit records — VERDICT r14 #1)."""
    from hbase_taggregator_spark.operators.similarity import (
        Codec,
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
    write_ivf_index(emb, quant, f"{workdir}/ivf", Codec("binary"))
    idx, codec = read_ivf_index(spark, f"{workdir}/ivf")
    approx = ivf_search(
        idx, queries, quant, codec, k=RECALL_K,
        rerank_k=IVFB_IDX_RERANK_K, n_probe=IVFB_IDX_NPROBE,
    )
    return _recall_vs_exact(emb, queries, approx, k=RECALL_K)


def _q_ivf_binary_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the composed IVF+binary stack served from the
    persisted binary index (assignment + quantization amortized to
    build; first pass partition- AND column-pruned; re-rank pruned to
    the probed cells)."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rec = _ivf_binary_indexed_frame(spark, sf_dir, d)
        # materialize before the index directory vanishes (the standing
        # sink-gate pattern; the result is 10 tiny rows)
        out = local_df(spark, rec.collect(), rec.schema)
    return out


_register(
    "similarity_ivf_binary_indexed_recall_at_5",
    _q_ivf_binary_indexed,
    # the shared flat composed-stack oracle: the persisted-index path is
    # row-pinned to the in-memory plan (tests/test_round12.py), so any
    # loss, duplication, codebook drift, or precision drift in the
    # binary-extended write/read breaks the hash
    _ivf_binary_recall_sql(
        n_centroids=16, n_probe=IVFB_IDX_NPROBE,
        rerank_k=IVFB_IDX_RERANK_K, k=RECALL_K,
    ),
)
_register_plan_frame(
    "similarity_ivf_binary_indexed_recall_at_5", _ivf_binary_indexed_frame
)


def _binary_admitted_frame(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The LIVE serving frame behind
    ``embedding_binary_incremental_admitted``: build the standing band
    index under ``workdir``, return the pre-materialization admission
    frame (what the plan audit records — VERDICT r14 #1)."""
    from hbase_taggregator_spark.operators.similarity import (
        binary_incremental_admitted,
        read_binary_band_index,
        write_binary_band_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") < ADMIT_SPLIT)
    batch = emb.filter(F.col("vec_id") >= ADMIT_SPLIT)
    write_binary_band_index(
        corpus, f"{workdir}/bands", band_bits=ADMIT_BAND_BITS
    )
    idx, codec, bb = read_binary_band_index(spark, f"{workdir}/bands")
    return binary_incremental_admitted(
        idx, batch, codec, radius=ADMIT_RADIUS, band_bits=bb
    ).orderBy("vec_id")


def _q_binary_admitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit the vec_id >= 400 batch against the standing band index of
    the vec_id < 400 corpus: batch codes (quantized against the STORED
    thresholds) broadcast into the partition-pruned banded join; a
    batch id survives iff no smaller id sits within Hamming radius 15."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        adm = _binary_admitted_frame(spark, sf_dir, d)
        # materialize before the index directory vanishes
        out = local_df(spark, adm.collect(), adm.schema)
    return out


_CORPUS_SRC = f"(SELECT * FROM embeddings WHERE vec_id < {ADMIT_SPLIT})"

_register(
    "embedding_binary_incremental_admitted",
    _q_binary_admitted,
    f"""
    -- the EXHAUSTIVE restatement: bits over the WHOLE table but means
    -- from the STANDING corpus only (the stored-thresholds contract);
    -- a batch id is admitted iff it is not the larger element of any
    -- radius pair — admission against the index plus the batch
    -- self-join equals this full-recompute rule restricted to the
    -- batch, because the drop rule is non-iterative
    WITH {binary_bits_ctes(mean_src=_CORPUS_SRC)},
    hd AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM bits a JOIN bits b ON a.vec_id < b.vec_id
           WHERE bit_count(xor(a.w0, b.w0))
                 + bit_count(xor(a.w1, b.w1)) <= {ADMIT_RADIUS})
    SELECT vec_id FROM bits
    WHERE vec_id >= {ADMIT_SPLIT}
      AND vec_id NOT IN (SELECT id_b FROM hd WHERE id_b >= {ADMIT_SPLIT})
    ORDER BY vec_id
    """,
)
_register_plan_frame(
    "embedding_binary_incremental_admitted", _binary_admitted_frame
)


#: the floor gate's shortlist scaling: rerank_k = max(20, corpus/25) —
#: a FIXED corpus fraction (4%), floored at the sf0.01 gate dial. An
#: approximation gate with a fixed absolute shortlist silently gets
#: harder as the fixture grows (rerank_k=20 over sf0.1's 2000 vectors
#: is 4× more selective than over the 500-vector gate fixtures and
#: legitimately dips below the floor); production retrieval dials
#: scale with the corpus, so the gate's do too. Measured mean
#: recall@5 at this scaling: 0.62 / 0.62 / 0.76 at sf0.001 / 0.01 /
#: 0.1 — the 0.6 floor holds at every committed fixture.
IVFB_FLOOR_RERANK_MIN = 20
IVFB_FLOOR_RERANK_DIV = 25


def _q_ivf_binary_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing retrieval-quality floor on the composed IVF+binary
    stack: mean recall@5 at the committed operating point (nlist=16,
    n_probe=4, rerank_k = max(20, corpus/25) — a fixed 4% shortlist
    fraction) must clear 0.6. The approximation is CHECKED, not
    reproduced (the percentile-gate pattern) — the oracle pins the
    verdict row."""
    from hbase_taggregator_spark.operators.similarity import (
        Codec,
        build_ivf_index,
        coarse_quantizer,
        ivf_search,
    )
    from hbase_taggregator_spark.queries_ext import _recall_vs_exact

    emb = load_table(spark, sf_dir, "embeddings")
    rerank_k = max(
        IVFB_FLOOR_RERANK_MIN, emb.count() // IVFB_FLOOR_RERANK_DIV
    )
    cents = (
        emb.orderBy("vec_id")
        .limit(16)
        .select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
        )
    )
    queries = emb.filter(F.col("vec_id") < 10)
    quant = coarse_quantizer(cents)
    index, codec = build_ivf_index(emb, quant, Codec("binary"))
    approx = ivf_search(
        index, queries, quant, codec, k=RECALL_K, rerank_k=rerank_k,
        n_probe=IVFB_IDX_NPROBE,
    )
    rec = _recall_vs_exact(emb, queries, approx, k=RECALL_K)
    return rec.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg("recall_at_5") >= F.lit(IVFB_RECALL_FLOOR)).alias(
            "recall_floor_met"
        ),
    ).select(
        F.lit(16).alias("nlist"),
        F.lit(IVFB_IDX_NPROBE).alias("n_probe"),
        F.lit(IVFB_RECALL_FLOOR).alias("floor"),
        "n_queries",
        "recall_floor_met",
    )


_register(
    "similarity_ivf_binary_recall_floor",
    _q_ivf_binary_floor,
    f"""
    SELECT 16 AS nlist, {IVFB_IDX_NPROBE} AS n_probe,
           CAST({IVFB_RECALL_FLOOR} AS DOUBLE) AS floor,
           CAST(10 AS BIGINT) AS n_queries,
           TRUE AS recall_floor_met
    """,
)


#: the composed IVFADC gate's dials: flat 16-cell IVF, 4 probes,
#: refined m=4 × 16-codeword books — the PQ gate's sizing inside the
#: IVF gate's cells
IVFPQ_M = 4
IVFPQ_NCODES = 16
IVFPQ_NPROBE = 4


def _ivf_pq_indexed_frame(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The LIVE serving frame behind
    ``similarity_ivf_pq_indexed_recall_at_5``: build the persisted
    pq=True index under ``workdir``, return the pre-materialization
    recall frame (what the plan audit records — VERDICT r14 #1)."""
    from hbase_taggregator_spark.operators.similarity import (
        Codec,
        coarse_quantizer,
        ivf_search,
        l2_topk,
        read_ivf_index,
        write_ivf_index,
    )

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
    write_ivf_index(
        emb, quant, f"{workdir}/ivfpq",
        Codec("pq", m=IVFPQ_M, n_codes=IVFPQ_NCODES, refine_iters=1),
    )
    idx, codec = read_ivf_index(spark, f"{workdir}/ivfpq")
    pq = ivf_search(
        idx, queries, quant, codec, k=RECALL_K, n_probe=IVFPQ_NPROBE,
    ).select("query_id", "vec_id")
    exact = l2_topk(emb, queries, k=RECALL_K).select(
        "query_id", "vec_id"
    )
    hits = (
        exact.join(pq, ["query_id", "vec_id"], "left_semi")
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


def _q_ivf_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the composed IVFADC stack served from the pq=True
    persisted index (assignment + codebook training + encoding all
    amortized to build; the ADC first pass partition- and
    column-pruned to (id, cent_id, codes); LUT from the STORED
    codebooks). Row-identical to the in-memory search, so it
    hashes against the same composed oracle."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rec = _ivf_pq_indexed_frame(spark, sf_dir, d)
        # materialize before the index directory vanishes
        out = local_df(spark, rec.collect(), rec.schema)
    return out


def _q_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the composed IVF + PQ (IVFADC) stack vs exact
    Euclidean top-k: cosine IVF cells restrict candidates, the
    Lloyd-refined asymmetric PQ distance ranks within probed cells —
    every stage (assignment, probes, refinement, encode, LUT,
    cell-restricted ADC, exact-L2 ground truth) restated in SQL."""
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
        Codec("pq", m=IVFPQ_M, n_codes=IVFPQ_NCODES, refine_iters=1),
    )
    pq = ivf_search(
        index, queries, quant, codec, k=RECALL_K, n_probe=IVFPQ_NPROBE
    ).select("query_id", "vec_id")
    exact = l2_topk(emb, queries, k=RECALL_K).select("query_id", "vec_id")
    hits = (
        exact.join(pq, ["query_id", "vec_id"], "left_semi")
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


#: shared by the in-memory IVFADC gate AND the persisted-index one —
#: the indexed path is row-pinned to the in-memory plan
#: (tests/test_round12.py), the same sharing discipline as
#: `_ivf_recall_sql` / `_ivf_binary_recall_sql`
_IVFPQ_RECALL_SQL = f"""
    -- flat-IVF assignment/probes (cosine argmax — the engine's IVF
    -- convention) composed with the shared refined-PQ chain; ADC is
    -- restricted to probed cells, ground truth is exact squared-L2
    WITH {_SQL_E},
    {pq_refined_ctes(m=IVFPQ_M, n_codes=IVFPQ_NCODES)},
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
        FROM cscore WHERE vec_id < 10) p WHERE rk <= {IVFPQ_NPROBE}),
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
    pq AS (
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
      FROM exact x JOIN pq USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(RECALL_K)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """

_register("similarity_ivf_pq_recall_at_5", _q_ivf_pq_recall, _IVFPQ_RECALL_SQL)
_register(
    "similarity_ivf_pq_indexed_recall_at_5",
    _q_ivf_pq_indexed,
    _IVFPQ_RECALL_SQL,
)
_register_plan_frame(
    "similarity_ivf_pq_indexed_recall_at_5", _ivf_pq_indexed_frame
)


# re-apply the gate-window ordering now that round-12 queries are
# registered (tolerant on every import path, same as queries_r3..r11 —
# whichever module finishes last sees the full catalog).
from hbase_taggregator_spark.queries_ext import _apply_gate_window  # noqa: E402

_apply_gate_window(strict=False)
