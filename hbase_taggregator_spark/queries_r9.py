"""Round-9 catalog queries.

Both entries gate the round's two-level upgrades on the FULL restated
algebra (the r8 ``similarity_twolevel_assign`` discipline — every step
in DuckDB SQL, hash-compared):

- ``similarity_twolevel_topk`` — ``n_probe > 1`` on the two-level path
  (the family's one r8-declared API hole, now closed): per-vector top-k
  over the super-cell candidate stream via a map-side-partial
  ``collect_list`` → ``array_sort`` → ``slice`` — the SAME single
  shuffle as the argmin, larger payload only. The oracle is the shared
  two-level CTE chain with the final rank predicate widened to
  ``rk <= n_probe``.
- ``similarity_kmeans_twolevel_refine`` — one Lloyd iteration under
  ``two_level=True``: the refreshed means flow straight from the
  assignment aggregate with no driver round-trip of the centroid set
  (spy-asserted in tests/test_round8.py; scale evidence in
  tools/bench_twolevel_r9.py). The gate hashes integer checksums
  of the refreshed means (the quantize discipline: ``floor(m·10⁶ +
  0.5)`` — both engines compute m identically, decimal-exact component
  sums then one IEEE division, so the floor is deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.oracle_fragments import (
    _SQL_E,
    TWOLEVEL_NLIST,
    TWOLEVEL_NPROBE,
    TWOLEVEL_NSUPER,
    TWOLEVEL_SQL_CTES,
)
from hbase_taggregator_spark.queries import _register, load_table

#: per-vector result count for the top-k gate (< the per-super-cell
#: candidate count at the fixture sizing, so the slice is a real cut)
TWOLEVEL_TOPK = 2


def _first_centroids(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < TWOLEVEL_NLIST).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )


def _quantized_checksums(
    df: DataFrame, arr_col: str, id_col: str, l1: str, ck: str
) -> DataFrame:
    """The ONE copy of the gate-side quantize-and-checksum projection
    (r9 self-review — it was pasted three times with only aliases
    changed): posexplode the double array, q = floor(x·10⁶ + 0.5) as
    BIGINT, per-id (n_dims, Σ|q| AS l1, Σ q·(pos+1) AS ck) ordered by
    id. Deterministic cross-engine whenever both engines computed the
    array components bit-identically."""
    q = F.floor(F.col("__x") * 1000000.0 + 0.5).cast("long")
    return (
        df.select(id_col, F.posexplode(arr_col).alias("__p", "__x"))
        .select(id_col, (F.col("__p") + 1).alias("__w"), q.alias("__q"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum(F.abs(F.col("__q"))).alias(l1),
            F.sum(F.col("__q") * F.col("__w")).alias(ck),
        )
        .orderBy(id_col)
    )


def _q_twolevel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF assignment with n_probe=2: each corpus vector's two
    nearest candidate centroids (by exact decimal cosine) among the
    probed super-cells — ≤ 2 rows per vector, ordered (vec_id,
    cent_id)."""
    from hbase_taggregator_spark.operators.similarity import (
        ivf_assign_two_level,
    )
    from hbase_taggregator_spark.util import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        ivf_assign_two_level(
            ensure_parallelism(emb),
            _first_centroids(emb),
            n_super=TWOLEVEL_NSUPER,
            n_super_probe=TWOLEVEL_NPROBE,
            n_probe=TWOLEVEL_TOPK,
        )
        .select("vec_id", "cent_id")
        .orderBy("vec_id", "cent_id")
    )


_register(
    "similarity_twolevel_topk",
    _q_twolevel_topk,
    f"""
    WITH {_SQL_E},
    {TWOLEVEL_SQL_CTES}
    SELECT vec_id, cent_id FROM (
        SELECT cdot.vec_id, cid AS cent_id,
               ROW_NUMBER() OVER (PARTITION BY cdot.vec_id
                                  ORDER BY d / (nv.nrm * nc.nrm) DESC,
                                           cid) AS rk
        FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
                  JOIN norms nc ON nc.vec_id = cid)
    WHERE rk <= {TWOLEVEL_TOPK} ORDER BY vec_id, cent_id
    """,
)


def _q_kmeans_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration with two-level assignment: refreshed centroid
    means as integer checksums per surviving centroid — (cent_id,
    n_dims, m_l1, m_checksum), 1-based dimension weights."""
    from hbase_taggregator_spark.operators.similarity import kmeans_refine
    from hbase_taggregator_spark.util import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    refined = kmeans_refine(
        ensure_parallelism(emb),
        _first_centroids(emb),
        n_iter=1,
        two_level=True,
        # explicit sizing (r9 self-review): decouple the gate from the
        # isqrt(nlist) default happening to equal the oracle's constants
        n_super=TWOLEVEL_NSUPER,
        n_super_probe=TWOLEVEL_NPROBE,
    )
    return _quantized_checksums(
        refined, "cvec", "cent_id", "m_l1", "m_checksum"
    )


_register(
    "similarity_kmeans_twolevel_refine",
    _q_kmeans_twolevel,
    f"""
    -- kmeans_refine(strategy="twolevel") uses the DEFAULT two-level
    -- sizing (n_super = isqrt(nlist) = {TWOLEVEL_NSUPER} at nlist =
    -- {TWOLEVEL_NLIST}, n_super_probe = {TWOLEVEL_NPROBE}), which is
    -- exactly the shared CTE chain's sizing — the assignment below is
    -- the identical algebra, then per-(centroid, dim) decimal-exact
    -- means and the integer checksum projection. SUM(BIGINT) is HUGEINT
    -- in DuckDB: integer outputs cast back to BIGINT.
    WITH {_SQL_E},
    {TWOLEVEL_SQL_CTES},
    assign AS (SELECT vec_id, cid FROM (
        SELECT cdot.vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY cdot.vec_id
                                  ORDER BY d / (nv.nrm * nc.nrm) DESC,
                                           cid) AS rk
        FROM cdot JOIN norms nv ON nv.vec_id = cdot.vec_id
                  JOIN norms nc ON nc.vec_id = cid)
        WHERE rk = 1),
    nm AS (SELECT a.cid, e.i,
                  CAST(SUM(CAST(e.v AS DECIMAL(28,12))) AS DOUBLE)
                    / COUNT(*) AS m
           FROM assign a JOIN e ON e.vec_id = a.vec_id GROUP BY 1, 2),
    qz AS (SELECT cid, i, CAST(FLOOR(m * 1000000.0 + 0.5) AS BIGINT) AS q
           FROM nm)
    SELECT cid AS cent_id, COUNT(*) AS n_dims,
           CAST(SUM(ABS(q)) AS BIGINT) AS m_l1,
           CAST(SUM(q * i) AS BIGINT) AS m_checksum
    FROM qz GROUP BY 1 ORDER BY cent_id
    """,
)


#: JL projection / Matryoshka truncation sizing for the gates: 64 → 16
RP_OUT_DIM = 16
TRUNC_K = 16


def _q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±1 (Rademacher) Johnson-Lindenstrauss projection 64 → 16 with
    integer per-vector checksums of the projected components — the
    index-free dimensionality reduction ahead of ANN/clustering.
    Entirely map-side (the lsh_bucket literal pattern); the oracle
    inlines the SAME md5-derived sign matrix as a VALUES table."""
    from hbase_taggregator_spark.operators.similarity import (
        random_projection,
    )
    from hbase_taggregator_spark.util import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    # dim pinned explicitly: the operator's dim=None default derives it
    # from a LIMIT-1 probe (r10 ADVICE fix), and the gate's oracle must
    # not depend on a probed value
    proj = random_projection(ensure_parallelism(emb), out_dim=RP_OUT_DIM, dim=64)
    return _quantized_checksums(
        proj, "projected", "vec_id", "p_l1", "p_checksum"
    )


def _rp_signs_values() -> str:
    from hbase_taggregator_spark.operators.similarity import _rp_signs

    return ", ".join(
        f"({j + 1}, {i + 1}, {int(w)})"
        for j in range(RP_OUT_DIM)
        for i, w in enumerate(_rp_signs(j, 64))
    )


_register(
    "embedding_random_projection_checksums",
    _q_random_projection,
    f"""
    -- the ±1 sign matrix is md5-derived and deterministic, so the oracle
    -- inlines the identical values (the LSH-hyperplane restatement
    -- pattern); ±1 products are EXACT, the decimal sum is the shared dot
    -- algebra, and /sqrt({RP_OUT_DIM}.0) is one IEEE division. Vectors
    -- containing a NULL element are excluded on BOTH sides (SQL SUM
    -- skips NULLs where Spark's decimal aggregate NULL-poisons)
    WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
               FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
               WHERE len(embedding) = 64
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    signs(j, i, w) AS (VALUES {_rp_signs_values()}),
    p AS (SELECT e.vec_id, s.j,
                 CAST(SUM(CAST(e.v * s.w AS DECIMAL(18,12))) AS DOUBLE)
                   / sqrt({RP_OUT_DIM}.0) AS y
          FROM e JOIN signs s ON s.i = e.i GROUP BY 1, 2),
    qz AS (SELECT vec_id, j, CAST(FLOOR(y * 1000000.0 + 0.5) AS BIGINT) AS q
           FROM p)
    SELECT vec_id, COUNT(*) AS n_dims,
           CAST(SUM(ABS(q)) AS BIGINT) AS p_l1,
           CAST(SUM(q * j) AS BIGINT) AS p_checksum
    FROM qz GROUP BY 1 ORDER BY vec_id
    """,
)


def _q_truncate_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncate-to-16 + L2 renormalization with integer
    per-vector checksums — the cheap-tier read of prefix-trained
    embeddings. Rows whose 16-prefix has zero norm drop (renormalized
    zero is undefined; ANSI would raise on the division)."""
    from hbase_taggregator_spark.operators.similarity import truncate_renorm
    from hbase_taggregator_spark.util import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    tr = truncate_renorm(ensure_parallelism(emb), k=TRUNC_K)
    return _quantized_checksums(
        tr, "truncated", "vec_id", "t_l1", "t_checksum"
    )


_register(
    "embedding_truncate_renorm_checksums",
    _q_truncate_renorm,
    f"""
    WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
               FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
               WHERE len(embedding) >= {TRUNC_K}),
    -- COUNT(v) = k drops any vector with a NULL element in its prefix,
    -- mirroring Spark exactly: the decimal norm NULL-poisons there and
    -- the __nk > 0 filter removes the row, while SQL SUM would silently
    -- skip the NULL and keep a partial-prefix norm (r9 self-review)
    nk AS (SELECT vec_id,
                  sqrt(CAST(SUM(CAST(v * v AS DECIMAL(18,12))) AS DOUBLE))
                    AS nk
           FROM e WHERE i <= {TRUNC_K} GROUP BY 1
           HAVING COUNT(v) = {TRUNC_K}),
    u AS (SELECT e.vec_id, e.i, e.v / nk.nk AS u
          FROM e JOIN nk ON nk.vec_id = e.vec_id AND nk.nk > 0
          WHERE e.i <= {TRUNC_K}),
    qz AS (SELECT vec_id, i, CAST(FLOOR(u * 1000000.0 + 0.5) AS BIGINT) AS q
           FROM u)
    SELECT vec_id, COUNT(*) AS n_dims,
           CAST(SUM(ABS(q)) AS BIGINT) AS t_l1,
           CAST(SUM(q * i) AS BIGINT) AS t_checksum
    FROM qz GROUP BY 1 ORDER BY vec_id
    """,
)


# re-apply the gate-window ordering now that round-9 queries are
# registered (tolerant on every import path, same as queries_r3..r8 —
# whichever module finishes last sees the full catalog).
from hbase_taggregator_spark.queries_ext import _apply_gate_window  # noqa: E402

_apply_gate_window(strict=False)
