"""Embedding similarity search over an `array<float>` column: exact
cosine / L2 top-k and the compressed-index paths that scale it.

Physical design for 100 TB of embeddings:

- **brute-force top-k** (the exactness baseline): broadcast the Q query
  vectors (Q is small), compute Q·x per corpus row as a JVM higher-order
  expression (`zip_with` + `aggregate` — no Python, no shuffle of the
  corpus), then `row_number` per query over (similarity, id) to keep k.
  The only shuffle carries Q×k candidate rows… per partition, coalesced by
  the window — still corpus-size-independent.
- **the IVF index** (the scale path): a coarse quantizer assigns every
  vector to a cell and a :class:`Codec` encodes it — flat, binary
  (packed sign/mean bits, Hamming first pass) or PQ (codes, asymmetric
  distance first pass). :func:`build_ivf_index` + :func:`ivf_search`
  serve it in memory, :func:`write_ivf_index` / :func:`read_ivf_index`
  persist it with the trained codec in sidecars; queries probe their
  nearest cells and re-rank a bounded shortlist exactly. The binary
  codec also drives the Hamming family without cells — the top-k scan,
  the banded radius join, dedup and the standing band index's
  admission — over the same codebook and sidecars.
- **random-hyperplane LSH**: fixed md5-derived hyperplanes → a bucket
  key; queries probe only their bucket. Bucketing is a map-side
  projection; the probe is an equi-join on the bucket key.

Dot products accumulate per-element products cast to DECIMAL(18,12) so the
result is accumulation-order-free — bit-identical across engines (used by
the oracle). Precision 18 keeps Spark's Decimal in its compact-long fast
path (no BigDecimal allocation per element); |elements| < 1 bounds every
sum far below the 10^6 capacity. Norms are precomputed once per vector —
never per pair. Final sqrt/divide in double.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from hbase_taggregator_spark.operators.relational import top_k_per_group
from hbase_taggregator_spark.util import ensure_parallelism, local_df

DEC = "decimal(18,12)"


def _dec_sum(arr: Column) -> Column:
    """Exact sum of an array<double> via decimal accumulation.

    The merge lambda must return the accumulator's exact type — Spark
    decimal addition grows precision, so cast back each step; scale-12
    addition is lossless within the precision-18 capacity."""
    return F.aggregate(
        arr, F.lit(0).cast(DEC), lambda acc, x: (acc + x.cast(DEC)).cast(DEC)
    ).cast("double")


def dot(a: Column, b: Column) -> Column:
    """Exact-accumulation dot product of two float/double arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _dec_sum(prods)


def norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(_dec_sum(sq))


def _ddot(a: Column, b: Column) -> Column:
    """Plain-double dot product — 2 interpreted FP ops per element vs the
    exact path's ~5 Decimal ops. NOT oracle-exact on its own; used only
    where a proven error bound lets it decide for the exact algebra
    (:func:`ivf_assign`'s argmax prune, :func:`cos_ge`, the two-level
    two-phase top-k's double ranking)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nz(den: Column) -> Column:
    """NULL instead of a zero denominator. Under ANSI mode (this
    deployment's default) double division by zero RAISES — a zero-norm
    vector (an empty document's embedding) must not kill a 100 TB job.
    A NULL score places degenerate vectors deterministically instead:
    NULLS LAST in the DESC cosine rankings (they never enter a top-k),
    null-negcos-FIRST in :func:`ivf_assign`'s (negcos, pos) struct order
    (they assign to the lowest-position centroid, same as NULL/ragged
    vectors), and FALSE in :func:`cos_ge` similarity filters (a zero
    vector is near-duplicate of nothing). The in-UDF Python mirror
    (:func:`_py_negcos`) returns None for a zero denominator to match."""
    return F.when(den != 0.0, den)


def cos_ge(
    a: Column,
    b: Column,
    na: Column,
    nb: Column,
    threshold: float,
    eps: float = 1e-6,
    guard: float = 1e-3,
) -> Column:
    """Boolean column with EXACTLY the semantics of
    ``dot(a, b) / (na * nb) >= threshold`` (the decimal-exact oracle
    algebra), decided by a cheap double dot whenever the score is more
    than ``eps`` from the boundary. The double and exact cosines differ
    by < 64·5e-13/(na·nb) + float-sum noise, so with ``na·nb > guard``
    the divergence is < 1e-7 ≪ eps — a double score outside
    [threshold−eps, threshold+eps) forces the same verdict the exact
    algebra gives. Boundary-ambiguous rows, degenerate norms, and
    null/NaN scores all fall through to the exact expression, so the
    output is bit-identical to the pure exact filter at a fraction of
    its cost on the (typical) mostly-rejected pair stream."""
    fast = _ddot(a, b) / _nz(na * nb)
    exact = dot(a, b) / _nz(na * nb) >= F.lit(threshold)
    return (
        F.when((na * nb) <= F.lit(guard), exact)
        .when(fast >= F.lit(threshold + eps), F.lit(True))
        .when(fast < F.lit(threshold - eps), F.lit(False))
        .otherwise(exact)
    )


def cosine(a: Column, b: Column) -> Column:
    """Pairwise cosine. Recomputes both norms — fine for single pairs; the
    set operators below precompute norms once per vector instead."""
    return dot(a, b) / _nz(norm(a) * norm(b))


def with_norm(df: DataFrame, vec_col: str = "embedding", out_col: str = "nrm") -> DataFrame:
    """Attach the L2 norm once per vector (map-side projection) so pair
    scoring pays one dot product, not one dot + two norms."""
    return df.withColumn(out_col, norm(F.col(vec_col)))


def _valid_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Rows whose vector is non-NULL, exactly ``dim`` long and free of
    NULL elements — the one drop rule of every operator reading
    components by position (:func:`random_projection`, the binary
    codes and their mean thresholds). Spark's decimal sum NULL-poisons
    where SQL SUM skips a NULL element and a NULL element's CASE bit
    reads 0, so both engines drop such rows (the oracle via
    ``list_filter``)."""
    e = F.col(vec_col)
    return df.filter(
        e.isNotNull()
        & (F.size(e) == dim)
        & (F.size(F.filter(e, lambda x: x.isNull())) == 0)
    )


def _verified_pairs(
    nd: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    key: str | None = None,
) -> DataFrame:
    """The verify tail of the near-dup pair operators: rows of ``nd``
    (id, vec, nrm[, key]) paired with ``id_a < id_b`` — all pairs via a
    broadcast of ``nd``, or with ``key`` only pairs equal on it (an
    equi-join) — kept where :func:`cos_ge` passes (a double dot
    fast-rejects the dominant sub-threshold pairs) and scored with the
    exact cosine: (id_a, id_b, cosine)."""
    keys = [key] if key else []
    a = nd.select(
        *keys, F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
        F.col("nrm").alias("__na"),
    )
    b = nd.select(
        *keys, F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
        F.col("nrm").alias("__nb"),
    )
    ordered = F.col("id_a") < F.col("id_b")
    pairs = (
        a.join(F.broadcast(b), ordered) if key is None
        else a.join(b, key).filter(ordered)
    )
    return (
        pairs.filter(
            cos_ge(
                F.col("__va"), F.col("__vb"),
                F.col("__na"), F.col("__nb"), threshold,
            )
        )
        .withColumn(
            "cosine",
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .select("id_a", "id_b", "cosine")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors. Broadcast×corpus product stays map-side; the per-query top-k
    is one window shuffle.

    ``exclude_self=True`` (the recall-gate default) drops corpus rows whose
    id equals the query id — correct when queries are drawn FROM the corpus
    id space. Pass ``False`` for an unrelated query table, where an id
    collision would otherwise wrongly exclude a legitimate neighbor."""
    return _exact_topk(
        corpus, queries, k, "cosine", id_col, vec_col, query_id_col,
        exclude_self,
    )


def _exact_score(metric: str, vec_col: str) -> Column:
    """The exact metric between a query (``__qvec``, norm ``__qnrm``)
    and a corpus row (``vec_col``, norm ``nrm``), over the stored norms:
    ``"cosine"`` (decimal-exact dot / norms, ranked descending) or
    ``"d2"`` (squared L2 |q|² + |x|² − 2·q·x, ranked ascending). Every
    exact ranking and re-rank here scores with it."""
    qdot = dot(F.col("__qvec"), F.col(vec_col))
    if metric == "cosine":
        return qdot / _nz(F.col("__qnrm") * F.col("nrm"))
    return (
        F.col("__qnrm") * F.col("__qnrm")
        + F.col("nrm") * F.col("nrm")
        - 2 * qdot
    )


def _exact_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Brute-force top-k by :func:`_exact_score` ``metric`` — output
    (query_id, id, metric): the broadcast query vectors × every corpus
    row, map-side, then one top-k shuffle per query (ties by id)."""
    q = with_norm(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
        ),
        "__qvec",
        "__qnrm",
    )
    pair_cond = (
        F.col(query_id_col) != F.col(id_col) if exclude_self else F.lit(True)
    )
    scored = (
        with_norm(ensure_parallelism(corpus), vec_col)
        .join(F.broadcast(q), pair_cond)
        .select(
            query_id_col, id_col, _exact_score(metric, vec_col).alias(metric)
        )
    )
    return top_k_per_group(
        scored, [query_id_col], metric, k,
        descending=metric == "cosine", tiebreak=[id_col],
    )


def neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """All pairs with cosine ≥ threshold. O(n²) scoring — the exactness
    BASELINE, guarded so it cannot reach production scale by accident:
    inputs larger than ``max_rows`` raise (the broadcast of the whole
    table would OOM before the O(n²) even starts). Use
    :func:`lsh_neardup_pairs` at scale — same output columns, same
    threshold semantics, bucketed candidate generation instead of
    all-pairs. ``max_rows=None`` disables the guard for deliberate
    baseline runs (recall measurement on a sampled slice).

    The guard costs one count job over the id column — noise next to the
    quadratic scoring it gates, and it only runs on the baseline path."""
    if max_rows is not None:
        n = df.select(id_col).count()
        if n > max_rows:
            raise ValueError(
                f"neardup_pairs is the O(n²) all-pairs baseline; input has "
                f"{n} rows > max_rows={max_rows}. Use lsh_neardup_pairs "
                f"(bucketed candidates, same output shape) at scale, or "
                f"pass max_rows=None to force the baseline."
            )
    return _verified_pairs(
        with_norm(ensure_parallelism(df), vec_col), threshold, id_col, vec_col
    )


def lsh_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Embedding near-dup pairs with the LSH prefilter COMPOSED in: only
    same-bucket pairs are scored (an equi-join on the bucket key), so the
    quadratic verify of :func:`neardup_pairs` never touches the corpus —
    the shuffle carries one row per vector and the pair fan-out is bounded
    per bucket. Approximate by construction (cross-bucket pairs are
    missed); sign-LSH buckets make the miss rate shrink with cosine →
    threshold.

    ``max_bucket`` caps in-bucket quadratic fan-out the same way as
    :func:`hbase_taggregator_spark.operators.dedup.minhash_lsh_candidates`:
    buckets with more members (degenerate/boilerplate embeddings — e.g.
    all-zero vectors hashing together) are dropped before the self-join,
    and size-1 buckets are pruned (no pair possible). ``None`` disables."""
    b = lsh_bucket(with_norm(ensure_parallelism(df), vec_col), vec_col, n_planes, dim)
    bucket_n = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("__bn"))
    cap = (
        F.col("__bn") <= max_bucket if max_bucket is not None else F.lit(True)
    )
    ok = bucket_n.filter((F.col("__bn") >= 2) & cap).select("bucket")
    return _verified_pairs(
        b.join(ok, "bucket"), threshold, id_col, vec_col, key="bucket"
    )


def _hyperplane(seed: int, dim: int, prefix: str = "plane") -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes —
    reproducible across runs/engines without any RNG state. ``prefix``
    namespaces independent matrix families (LSH planes vs the random-
    projection signs) so they never correlate."""
    import hashlib

    vals: list[float] = []
    counter = 0
    while len(vals) < dim:
        h = hashlib.md5(f"{prefix}{seed}#{counter}".encode()).digest()
        for i in range(0, 16, 2):
            if len(vals) >= dim:
                break
            # signed 16-bit int → [-1, 1)
            v = int.from_bytes(h[i : i + 2], "big", signed=True) / 32768.0
            vals.append(v)
        counter += 1
    return vals


def _rp_signs(row: int, dim: int) -> list[float]:
    """Row ``row`` of the deterministic ±1 projection matrix (Achlioptas
    2003 "database-friendly" random projections: iid Rademacher entries
    satisfy the Johnson-Lindenstrauss guarantee with the same constants
    as Gaussian ones, and ±1 keeps every product EXACT — the projected
    value is a signed sum of input components, so the decimal-pinned dot
    has no product rounding at all). Zero md5 draws (p = 2⁻¹⁶ per entry)
    deterministically map to +1."""
    return [
        1.0 if v >= 0 else -1.0
        for v in _hyperplane(row, dim, prefix="rp")
    ]


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "projected",
) -> DataFrame:
    """Johnson-Lindenstrauss dense random projection dim → ``out_dim``:
    ``y_j = (Σ_i x_i · s_{j,i}) / √out_dim`` with the md5-derived ±1
    sign matrix of :func:`_rp_signs` — the cheap, index-free
    dimensionality reduction in front of ANN / clustering when even
    :func:`quantize_int8` leaves vectors too wide (out_dim=16 cuts the
    shuffle payload of every downstream join 4× at dim=64).

    Scale shape: ENTIRELY map-side — out_dim decimal-pinned dots per
    row against literal ±1 arrays (the :func:`lsh_bucket` pattern), zero
    shuffle, zero state; Catalyst folds the sign literals once per plan.
    Engine-portable by construction: ±1 products are exact (no product
    rounding), the component sum is the same DECIMAL(18,12) algebra as
    every other dot here, and the final ÷√out_dim is one IEEE division
    both engines round identically — the gate query hashes integer
    checksums of the projected components. Rows whose vector is NULL,
    not ``dim`` long, or contains a NULL element are excluded — the
    last explicitly (r9 self-review): Spark's decimal aggregate
    NULL-poisons the whole sum where SQL SUM would silently skip the
    NULL element, so without the filter the engines would diverge on
    such rows instead of agreeing to drop them (the oracle filters
    identically with ``list_filter``).

    ``dim=None`` (default) derives the input width from the non-empty
    vector with the SMALLEST ``id_col`` — one ``min_by`` aggregate job —
    so a caller with 128-dim embeddings can't silently project an empty
    frame by forgetting the parameter (r9 ADVICE: the old fixed default
    of 64 made exactly that failure mode), and on a ragged frame the
    derived width is a pure function of the DATA, not of scan/partition
    order (r10 ADVICE: the previous LIMIT-1 probe could pick a different
    row between runs or file layouts, silently changing which rows
    survive the length filter). Ids are assumed unique (the standing
    contract everywhere in this package). Pass ``dim`` explicitly to pin
    the width instead (the gate query does, keeping its oracle
    independent of the probe); rows of any OTHER length are then
    filtered as documented above."""
    import math

    e = F.col(vec_col)
    if dim is None:
        probed = (
            df.filter(F.size(e) >= 1)
            .agg(F.min_by(F.size(e), F.col(id_col)).alias("__d"))
            .collect()
        )
        if not probed or probed[0]["__d"] is None:
            raise ValueError(
                f"random_projection: no non-empty {vec_col!r} vector to "
                "derive dim from — pass dim= explicitly"
            )
        dim = int(probed[0]["__d"])
    d = _valid_vectors(df, vec_col, dim)
    scale = F.lit(float(math.sqrt(out_dim)))
    proj = F.array(
        *[
            dot(e, F.array(*[F.lit(s) for s in _rp_signs(j, dim)])) / scale
            for j in range(out_dim)
        ]
    )
    return d.select(id_col, proj.alias(out_col))


def truncate_renorm(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "truncated",
) -> DataFrame:
    """Matryoshka-style truncation: keep the first ``k`` components and
    renormalize to unit L2 — the standard cheap-tier read of
    matryoshka-trained embeddings (Kusupati et al. 2022), where prefixes
    of the vector are themselves usable representations and downstream
    cosine work gets a k/dim cost cut.

    Map-side only: slice + the exact-decimal prefix norm
    (:func:`norm`'s algebra over the first k components) + one IEEE
    division per component — both engines compute the identical doubles,
    so the gate hashes integer checksums. Rows whose PREFIX has zero
    norm are DROPPED (a renormalized zero vector is undefined; under
    ANSI the division would raise — same contract as the oracle's
    ``nk > 0`` predicate), as are NULL vectors, vectors shorter than
    ``k``, and vectors with a NULL element in the prefix (the decimal
    norm NULL-poisons on it and fails the same filter; the oracle's
    ``COUNT(v) = k`` HAVING mirrors the drop)."""
    t = F.slice(F.col(vec_col), 1, k)
    staged = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) >= k)
    ).select(id_col, t.alias("__t"), norm(t).alias("__nk"))
    return staged.filter(F.col("__nk") > 0).select(
        id_col,
        F.transform(
            F.col("__t"), lambda v: v.cast("double") / F.col("__nk")
        ).alias(out_col),
    )


def lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket id: bit_i = 1 iff x·p_i > 0.
    Map-side only; the bucket key is an int in [0, 2^n_planes)."""
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(i, dim)])
        bit = F.when(dot(F.col(vec_col), plane) > 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + bit.cast("long") * F.lit(1 << i).cast("long")
    return df.withColumn(out_col, bucket)


#: :func:`ivf_assign` switches from the pure-JVM expression argmax to the
#: Arrow-batched numpy ranking at this centroid count: the interpreted
#: higher-order dot costs ~1 µs per (row, centroid) on this class of
#: hardware, so nlist in the hundreds puts MINUTES of expression eval
#: against milliseconds of BLAS matmul per 10k-row Arrow batch.
ARROW_ASSIGN_MIN_NLIST = 128

#: Above this centroid count even the flat Arrow form's ONE-TIME driver
#: materialization + executor broadcast becomes the bottleneck (payload
#: is nlist × dim × 8 bytes — ~134 MB at this threshold for dim=64,
#: growing linearly under the cell-capped ``nlist ∝ N`` SemDeDup
#: sizing); :func:`coarse_quantizer` warns and recommends
#: ``two_level=True``, which keeps the centroid set distributed
#: end-to-end. The switch is NOT automatic: two-level assignment is
#: approximate (a vector's true nearest centroid can live in an unprobed
#: coarse cell), and silently changing the output contract with nlist
#: would be wrong — the caller opts into the approximation explicitly.
TWO_LEVEL_MIN_NLIST = 1 << 18

#: salt count of the two-level assignment's two-stage top-k (see
#: :func:`ivf_assign_two_level`): each stage-1 group holds ~1/16 of a
#: vector's candidate list instead of all of it.
TWO_LEVEL_SALTS = 16


def _collect_cents(centroids: DataFrame):
    """Materialize a centroid frame ONCE for flat assignment: (cent_id,
    cvec, cnrm) rows in cent_id order, norms computed with the
    exact-decimal algebra the oracle restates."""
    return (
        centroids.select(
            F.col("cent_id"), F.col("cvec"), norm(F.col("cvec")).alias("cnrm")
        )
        .orderBy("cent_id")
        .collect()
    )


@dataclass(frozen=True, eq=False)
class CoarseQuantizer:
    """The IVF coarse quantizer as a value: built ONCE per centroid set
    by :func:`coarse_quantizer` and handed to every assignment against
    it (a corpus build and its query probes share one quantizer, so the
    centroid collect — or the two-level super-set build — runs once per
    call, not once per assignment).

    - flat: ``rows`` holds the collected (cent_id, cvec, cnrm) centroid
      rows; assignment ranks every centroid per vector.
    - two-level: ``supers`` is the flat quantizer over the ≈ √nlist
      super-centroids, ``members`` keys every centroid by its nearest
      super-cell, and ``n_super`` / ``n_super_probe`` are the dials
      EXACTLY as requested at build time, so any entry point also given
      dials can compare them for equality."""

    centroids: DataFrame
    rows: list | None = None
    supers: CoarseQuantizer | None = None
    members: DataFrame | None = None
    n_super: int | None = None
    n_super_probe: int | None = None

    @property
    def two_level(self) -> bool:
        return self.supers is not None

    def check_dials(self, n_super: int | None, n_super_probe: int) -> None:
        """Raise unless this is a two-level quantizer built with exactly
        these dials — a quantizer built with different dials would
        silently probe a different cell set than requested."""
        if not self.two_level:
            raise ValueError("expected a two-level quantizer, got a flat one")
        if (self.n_super, self.n_super_probe) != (n_super, n_super_probe):
            raise ValueError(
                f"two-level quantizer was built with n_super={self.n_super}, "
                f"n_super_probe={self.n_super_probe} but n_super={n_super}, "
                f"n_super_probe={n_super_probe} was requested — rebuild it "
                "with coarse_quantizer(centroids, two_level=True, ...) using "
                "the dials you pass here"
            )


def coarse_quantizer(
    centroids: DataFrame,
    two_level: bool = False,
    n_super: int | None = None,
    n_super_probe: int = 4,
) -> CoarseQuantizer:
    """Build the coarse quantizer over a (cent_id, cvec) centroid frame.

    Flat (default): one small job collects the centroids and their
    decimal-exact norms; :func:`ivf_assign` ships them as plan literals
    (nlist < ``ARROW_ASSIGN_MIN_NLIST``) or one ``SparkContext``
    broadcast (at or above it).

    Two-level (``two_level=True``): the centroid set is never collected —
    only the scalar count and the ≈ √nlist super-centroids
    (:func:`_super_centroids`, collected ONCE with their norms, so the
    block-mean job runs exactly once and leaves no executor cache
    behind). Members are the centroid frame itself assigned against the
    small super set. ``n_super`` defaults to ``max(4, isqrt(nlist))``;
    the effective probe count is ``min(n_super_probe, n_super)``."""
    if not two_level:
        rows = _collect_cents(centroids)
        if not rows:
            raise ValueError("ivf_assign requires a non-empty centroid set")
        if len(rows) >= TWO_LEVEL_MIN_NLIST:
            import warnings

            warnings.warn(
                f"coarse_quantizer: {len(rows)} centroids — the one-time "
                "driver collect + executor broadcast is "
                f"~{len(rows) * len(rows[0]['cvec']) * 8 >> 20} MB and grows "
                "linearly with nlist; consider two_level=True "
                "(approximate, never materializes the centroid set)",
                RuntimeWarning,
            )
        return CoarseQuantizer(centroids, rows=rows)
    nlist = centroids.count()
    if nlist == 0:
        raise ValueError(
            "ivf_assign_two_level/two_level_parts requires a non-empty "
            "centroid set"
        )
    n_sup = n_super
    if n_sup is None:
        import math

        n_sup = max(4, math.isqrt(nlist))
    n_sup = min(n_sup, nlist)
    sdf = _super_centroids(centroids, n_sup, nlist)
    # the projection is exactly _collect_cents's (same norm algebra, same
    # cent_id order), so the rows serve the flat super quantizer directly
    supers_rows = (
        sdf.select(
            F.col("cent_id"), F.col("cvec"), norm(F.col("cvec")).alias("cnrm")
        )
        .orderBy("cent_id")
        .collect()
    )
    supers = CoarseQuantizer(
        local_df(
            centroids.sparkSession,
            [(r["cent_id"], r["cvec"]) for r in supers_rows],
            sdf.schema,
        ),
        rows=supers_rows,
    )
    # membership assigns the centroid frame ITSELF against the small
    # super set — the block id is only needed for the means
    members = ivf_assign(
        centroids.select(
            F.col("cent_id").alias("__cid"), F.col("cvec").alias("__cv")
        ),
        supers,
        vec_col="__cv",
        id_col="__cid",
    ).select(
        "__cid", "__cv",
        F.col("nrm").alias("__cnrm"),
        F.col("cent_id").alias("__sid"),
    )
    return CoarseQuantizer(
        centroids, supers=supers, members=members,
        n_super=n_super, n_super_probe=n_super_probe,
    )


def _quantizer(centroids) -> CoarseQuantizer:
    """A quantizer argument: a built one as-is, a centroid frame flat."""
    if isinstance(centroids, CoarseQuantizer):
        return centroids
    return coarse_quantizer(centroids)


def ivf_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by cosine
    (IVF coarse quantization). ``centroids`` is a :class:`CoarseQuantizer`
    or a (cent_id, cvec) frame (built flat on the spot).

    A two-level quantizer delegates to :func:`ivf_assign_two_level`. A
    flat one is **entirely map-side, zero shuffle**; how the collected
    centroid set reaches the executors depends on nlist:

    - nlist < ``ARROW_ASSIGN_MIN_NLIST`` — per-row JVM expression over
      THREE inlined ``Literal`` nodes (an ``array<array<double>>`` of
      centroid vectors plus flat arrays of norms and ids): an
      ``array<struct<negcos, pos>>`` built by ``transform`` over
      ``sequence(1, nlist)``, argmin via ``array_min`` (n_probe=1) or one
      ``array_sort`` (n_probe>1). Zero Python anywhere in the plan; the
      literal is a few KB at recall-gate sizes.
    - nlist ≥ ``ARROW_ASSIGN_MIN_NLIST`` — :func:`_arrow_assign`: one
      ``mapInPandas`` numpy ranking pass; the centroid matrix ships via
      ``SparkContext.broadcast`` (torrent, once per executor), and
      boundary-ambiguous rows resolve through a bit-exact Python mirror
      of the exact-decimal algebra INSIDE the same pass, so the plan
      stays Project → MapInPandas → Project with zero Exchange and zero
      centroid literal at any nlist. Measured 82 s → ~2 s for 20k rows ×
      nlist=2000 at sf1. This is a DECLARED Arrow boundary (the
      embedding family's one, like the multimodal decodes).

    Both forms compute the SAME output (two-phase fast ranking +
    exact-decimal fallback for boundary-ambiguous rows — the soundness
    argument is in the body).

    Deterministic: ranking ascending on (-cos, position) with centroids
    collected in cent_id order, so position ties ⟺ cent_id ties —
    identical ordering to the oracle's ``ORDER BY ccos DESC, cent_id``.
    Output: (id_col, vec_col, nrm, cent_id), ≤ n_probe rows per id.
    """
    q = _quantizer(centroids)
    if q.two_level:
        return ivf_assign_two_level(
            df, q.centroids, vec_col=vec_col, id_col=id_col,
            n_super=q.n_super, n_super_probe=q.n_super_probe,
            n_probe=n_probe, shared=q,
        )
    cents = q.rows
    cid_type = q.centroids.schema["cent_id"].dataType
    cvec_py = [[float(v) for v in r["cvec"]] for r in cents]
    cnrm_py = [float(r["cnrm"]) for r in cents]
    cid_py = [r["cent_id"] for r in cents]
    min_cnrm = min(cnrm_py)
    nd = with_norm(df, vec_col).select(id_col, vec_col, "nrm")

    # Two-phase argmax: a plain-double ranking (JVM double dot or numpy
    # float64 matmul) ranks the centroids; the exact-decimal algebra (the
    # oracle contract, ~5 Decimal ops/element) re-ranks ONLY rows where
    # the double ranking is ambiguous. Soundness: any correctly-rounded
    # float64 dot — REGARDLESS of accumulation order, so the bound covers
    # BLAS's blocked/pairwise summation too — differs from the exact
    # decimal dot by < dim·ulp ≈ 1e-13 relative, so with |nrm·cnrm| >
    # 1e-3 the cosine gap between any two algebras is < 1e-7 ≪ EPS; a
    # boundary gap > EPS in the fast ranking therefore pins the same
    # top-n_probe SET the exact sort would pick (membership is what
    # matters — callers consume only the exploded cent_id). Ambiguous
    # rows (gap ≤ EPS, a ~0-probability measure on real embeddings) and
    # degenerate near-zero norms fall back to the exact tree, so the
    # output is identical to the pure exact form at a fraction of its
    # cost — and identical across the expression and Arrow forms.
    EPS = 1e-6

    if len(cents) >= ARROW_ASSIGN_MIN_NLIST and len(cents) > n_probe:
        return _arrow_assign(
            nd, cvec_py, cnrm_py, cid_py, cid_type,
            vec_col, id_col, n_probe, min_cnrm, EPS,
        )

    # --- expression form: centroids inlined as three Literal nodes -----
    lvecs = F.lit(cvec_py)
    lnrms = F.lit(cnrm_py)
    lids = F.lit(cid_py)
    seq = F.sequence(F.lit(1), F.lit(len(cents)))

    def _entries(dotf):
        return F.transform(
            seq,
            lambda i: F.struct(
                (
                    -(
                        dotf(F.col(vec_col), F.element_at(lvecs, i))
                        / _nz(F.col("nrm") * F.element_at(lnrms, i))
                    )
                ).alias("negcos"),
                i.cast("int").alias("pos"),
            ),
        )

    # The O(nlist·dim) entry array is ALIASED in its own projection
    # instead of inlined — higher-order functions run interpreted (no
    # whole-stage codegen, hence no codegen subexpression elimination),
    # so every textual reference would re-evaluate the full transform.
    # CollapseProject keeps the stages separate (it never merges a
    # non-cheap expression consumed more than once). For n_probe=1 the
    # argmin is array_min (one O(nlist) pass; struct ordering = (negcos,
    # pos) = exactly array_sort's head) and ambiguity is an O(nlist)
    # count of entries within EPS of the min — no O(nlist log nlist)
    # struct sort in the hot path.
    exact_pos = F.transform(
        F.slice(F.array_sort(_entries(dot)), 1, n_probe), lambda e: e["pos"]
    )
    norm_ok = F.col("nrm") * F.lit(min_cnrm) > 1e-3
    if len(cents) <= n_probe:
        # every centroid is in the output set — no ranking ambiguity
        staged = nd
        best_pos = F.transform(
            F.array_sort(_entries(_ddot)), lambda e: e["pos"]
        )
    elif n_probe == 1:
        staged = nd.select(
            id_col, vec_col, "nrm", _entries(_ddot).alias("__fent")
        ).select(
            id_col, vec_col, "nrm", "__fent",
            F.array_min("__fent").alias("__m1"),
        )
        near = F.size(
            F.filter(
                F.col("__fent"),
                lambda e: e["negcos"] <= F.col("__m1")["negcos"] + F.lit(EPS),
            )
        )
        best_pos = F.when(
            (near == 1) & norm_ok, F.array(F.col("__m1")["pos"])
        ).otherwise(exact_pos)
    else:
        staged = nd.select(
            id_col, vec_col, "nrm", _entries(_ddot).alias("__fent")
        ).select(
            id_col, vec_col, "nrm",
            F.array_sort("__fent").alias("__fs"),
        )
        gap = (
            F.element_at(F.col("__fs"), n_probe + 1)["negcos"]
            - F.element_at(F.col("__fs"), n_probe)["negcos"]
        )
        best_pos = F.when(
            (gap > EPS) & norm_ok,
            F.transform(F.slice(F.col("__fs"), 1, n_probe), lambda e: e["pos"]),
        ).otherwise(exact_pos)
    return staged.select(
        id_col, vec_col, "nrm", F.explode(best_pos).alias("__pos")
    ).select(
        id_col, vec_col, "nrm",
        # pin the output type to the centroid frame's own cent_id type:
        # F.lit's literal inference narrows small Python ints to int32,
        # so without the cast a bigint source would come back as int and
        # the schema would change across the Arrow threshold. Round-trip
        # safe: every value originated in that column.
        F.element_at(lids, F.col("__pos")).cast(cid_type).alias("cent_id"),
    )


def _py_negcos(vec, cvec, nrm: float, cnrm: float):
    """Bit-exact Python mirror of the JVM exact scoring expression
    ``-(dot(v, c) / (nrm * cnrm))`` (:func:`dot`): per-element double
    products, each cast to DECIMAL(18,12) — HALF_UP rounding applied to
    the SHORTEST decimal representation of the double, which is
    ``BigDecimal.valueOf`` semantics and exactly what Python's ``repr``
    emits (both produce the unique shortest round-tripping digit
    string) — summed exactly under the per-step precision cap (overflow
    → NULL, mirroring Spark's non-ANSI decimal cast), the final sum cast
    to double (correctly rounded in both runtimes), then one IEEE
    division and negation. Returns None exactly where the JVM expression
    returns NULL: a NULL vector, a ``zip_with`` length mismatch
    (null-padded products null the decimal sum), or a null element.
    NaN/Inf products and decimal overflow also return None — under
    ANSI mode (this deployment's default) the JVM cast would RAISE
    there instead, but both are unreachable for the documented input
    contract (|elements| < 1 keeps every product and partial sum far
    inside DECIMAL(18,12)); the mirror degrades to
    sorts-first-by-position rather than killing the job. A zero
    denominator (zero-norm vector) returns None, mirroring the JVM
    side's :func:`_nz` guard exactly. Property-pinned bit-for-bit
    against the real ``dot()`` expression in the tests."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if vec is None or len(vec) != len(cvec):
        return None
    q12 = Decimal("1E-12")
    cap = Decimal("1E+6")
    s = Decimal(0)
    for a, b in zip(vec, cvec):
        if a is None or b is None:
            return None  # null element → null product → null sum
        p = float(a) * float(b)
        if math.isnan(p) or math.isinf(p):
            return None  # cast(NaN/Inf as decimal) is NULL
        d = Decimal(repr(p)).quantize(q12, rounding=ROUND_HALF_UP)
        if d.copy_abs() >= cap:
            return None  # element cast overflows DECIMAL(18,12)
        s = s + d
        if s.copy_abs() >= cap:
            return None  # per-step accumulator cast overflows
    num = float(s)
    den = nrm * cnrm
    if den == 0.0:
        return None  # mirrors the _nz zero-denominator guard (NULL score)
    return -(num / den)


def _py_exact_ids(vec, nrm, C, cn, cids, n_probe, fast_row=None, eps=1e-6):
    """Exact-decimal resolution of ONE fallback row for
    :func:`_arrow_assign`, mirroring the expression form's exact tree:
    rank centroids by (negcos, pos) under the JVM total order — NULL
    first, NaN greater than any non-NaN (the ordering the null-vector /
    ragged-vector tests pin) — and take the first ``n_probe``.

    When the caller supplies finite fast scores for a norm-sound row
    (the boundary-ambiguous case), only centroids with ``fast_neg ≤
    kth_fast + 2·eps`` can appear in the exact top-n_probe — the
    fast-vs-exact divergence is < 1e-7 ≪ eps under the norm guard (see
    the soundness note in :func:`ivf_assign`) — so the Decimal work
    shrinks from O(nlist·dim) to the handful of boundary candidates.
    Norm-degenerate / non-finite / invalid rows rank ALL centroids (the
    bound does not hold there; they are rare by construction)."""
    import numpy as np

    idxs = range(C.shape[0])
    if fast_row is not None:
        kth = np.partition(fast_row, n_probe - 1)[n_probe - 1]
        idxs = np.flatnonzero(fast_row <= kth + 2.0 * eps).tolist()

    def key(i):
        negcos = _py_negcos(vec, C[i], nrm, float(cn[i]))
        if negcos is None:
            return (0, 0.0, i)
        if negcos != negcos:  # NaN: greater than any non-NaN
            return (2, 0.0, i)
        return (1, negcos, i)

    top = sorted(idxs, key=key)[:n_probe]
    # preserve the caller's id values/types (dtype=object arrays hold the
    # original Python objects; numpy scalars unwrap to their Python value)
    return [
        c.item() if isinstance(c, np.generic) else c
        for c in (cids[i] for i in top)
    ]


def _arrow_assign(
    nd: DataFrame,
    cvec_py: list,
    cnrm_py: list,
    cid_py: list,
    cid_type,
    vec_col: str,
    id_col: str,
    n_probe: int,
    min_cnrm: float,
    eps: float,
) -> DataFrame:
    """Arrow-batched numpy centroid assignment for :func:`ivf_assign` —
    the production-nlist form, fully resolved inside ONE
    ``mapInPandas`` pass. Plan shape: Project(norm) → MapInPandas →
    Project(explode) — zero Exchange and zero centroid Literal at ANY
    nlist (plan-asserted in the tests).

    Distribution: the centroid matrix, norms and ids ship via
    ``SparkContext.broadcast`` — torrent-distributed ONCE per executor —
    instead of a pickled task-closure capture (re-serialized with every
    task) or a plan-inlined ``array<array<double>>`` literal
    (O(nlist·dim) in every serialized task: ~5 MB at nlist=10⁴ dim=64,
    unbounded under the cell-capped nlist ∝ N sizing). The driver still
    holds the set once to seed the broadcast — the flat quantizer's
    remaining ceiling, documented at ``TWO_LEVEL_MIN_NLIST``.

    Per batch: one float64 ``V @ C.T`` matmul; ranking is argpartition
    to the n_probe+1 boundary (O(nlist) per row) then a lexsort of just
    those candidates on (value, position) — tie order identical to the
    expression form's (negcos, pos) struct ordering. The validity mask
    comes from ONE C-level length pass and all gathers/assignments are
    numpy (no per-row Python in the batch hot path). Rows whose
    fast ranking is boundary-ambiguous (gap ≤ eps), norm-degenerate,
    non-finite, NULL, or length-mismatched resolve through
    :func:`_py_exact_ids` — the bit-exact Python mirror of the JVM
    exact-decimal algebra — INSIDE the same pass, so no second job, no
    join, no literal. A batch that falls back ENTIRELY (e.g. every
    vector's length differs from the centroid dim — a likely
    misconfiguration) emits a RuntimeWarning naming the mismatch."""
    import numpy as np

    from pyspark.sql.types import ArrayType, StructField, StructType

    # the id array is dtype=object holding the ORIGINAL collected Python
    # values, and the output element type is the centroid frame's own
    # cent_id type: a hardcoded int64/LongType would change the output
    # schema across ARROW_ASSIGN_MIN_NLIST (int cent_id silently widened
    # to bigint) and crash on non-integral cent_ids the expression form
    # supports
    bc = nd.sparkSession.sparkContext.broadcast(
        (
            np.asarray(cvec_py, dtype=np.float64),
            np.asarray(cnrm_py, dtype=np.float64),
            np.asarray(cid_py, dtype=object),
        )
    )
    out_schema = StructType(
        list(nd.schema.fields) + [StructField("__cents", ArrayType(cid_type))]
    )

    def assign(batches):
        import warnings

        C, cn, cids = bc.value
        dim = C.shape[1]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(__cents=np.empty(0, dtype=object))
                continue
            vals = pdf[vec_col].to_numpy()
            nrms = pdf["nrm"].to_numpy(dtype=np.float64)
            # one C-level pass builds the length array; the mask and all
            # gathers below stay in numpy
            lens = np.fromiter(
                (len(v) if v is not None else -1 for v in vals),
                dtype=np.int64,
                count=n,
            )
            valid = lens == dim
            out = np.empty(n, dtype=object)
            resolved = np.zeros(n, dtype=bool)
            vidx = np.flatnonzero(valid)
            fb_fast = {}  # original row index -> finite fast scores
            if vidx.size:
                V = np.stack(
                    [np.asarray(vals[i], dtype=np.float64) for i in vidx]
                )
                vn = nrms[vidx]
                with np.errstate(divide="ignore", invalid="ignore"):
                    neg = -(V @ C.T) / (vn[:, None] * cn[None, :])
                m = n_probe + 1  # boundary candidate rides along for gap
                part = np.argpartition(neg, m - 1, axis=1)[:, :m]
                pv = np.take_along_axis(neg, part, axis=1)
                order = np.lexsort((part, pv), axis=1)
                cand = np.take_along_axis(part, order, axis=1)
                s = np.take_along_axis(pv, order, axis=1)
                gap = s[:, n_probe] - s[:, n_probe - 1]
                norm_ok = vn * min_cnrm > 1e-3
                ok = (gap > eps) & norm_ok
                top = cids[cand[:, :n_probe]]
                okpos = np.flatnonzero(ok)
                resolved[vidx[okpos]] = True
                # bulk-convert the fast winners in one tolist() call
                for i, t in zip(vidx[okpos].tolist(), top[okpos].tolist()):
                    out[i] = t
                for j in np.flatnonzero(~ok):
                    if norm_ok[j] and np.isfinite(neg[j]).all():
                        fb_fast[int(vidx[j])] = neg[j]
            fb = np.flatnonzero(~resolved)
            if fb.size == n:
                warnings.warn(
                    f"ivf_assign(arrow): entire batch of {n} rows bypassed "
                    f"the fast path (vector length != centroid dim {dim}, "
                    "or every ranking degenerate) — resolving through the "
                    "per-row exact path; check corpus/centroid dimensions",
                    RuntimeWarning,
                )
            for i in fb.tolist():
                out[i] = _py_exact_ids(
                    vals[i], float(nrms[i]), C, cn, cids, n_probe,
                    fast_row=fb_fast.get(i), eps=eps,
                )
            yield pdf.assign(__cents=out)

    staged = nd.mapInPandas(assign, out_schema)
    return staged.select(
        id_col, vec_col, "nrm", F.explode("__cents").alias("cent_id")
    )


def _two_level(
    centroids: DataFrame,
    n_super: int | None,
    n_super_probe: int,
    shared: CoarseQuantizer | None,
) -> CoarseQuantizer:
    """The two-level quantizer for an entry point given both dials and an
    optional prebuilt quantizer: build it from the dials, or check the
    prebuilt one was built with exactly these dials."""
    if shared is None:
        return coarse_quantizer(
            centroids, two_level=True, n_super=n_super,
            n_super_probe=n_super_probe,
        )
    shared.check_dials(n_super, n_super_probe)
    return shared


def two_level_parts(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_super: int | None = None,
    n_super_probe: int = 4,
    shared: CoarseQuantizer | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The two halves of the two-level assignment's super-cell equi-join
    (:func:`ivf_assign_two_level`), exposed so a standing deployment can
    MATERIALIZE the probe side once and amortize the corpus shuffle:

    - ``members`` — (__cid, __cv, __cnrm, __sid): every centroid keyed
      by its nearest super-cell.
    - ``probes`` — (id_col, vec_col, nrm, __sid): the corpus stamped
      with its ``n_super_probe`` nearest super-cell keys (one row per
      probe).

    The assignment join is ``probes ⋈ members ON __sid``. Writing
    ``probes`` bucketed on ``__sid`` (``df.write.bucketBy(k, "__sid")``)
    makes the corpus-side Exchange of every subsequent assignment /
    re-assignment VANISH — only the metadata-scale members side still
    shuffles. That is the 100 TB amortization: pay the corpus shuffle
    once at layout time, not per Lloyd iteration or per re-assignment.

    ``shared`` is a prebuilt two-level quantizer; it must have been
    built with exactly ``n_super`` / ``n_super_probe``."""
    q = _two_level(centroids, n_super, n_super_probe, shared)
    probes = ivf_assign(
        df, q.supers, vec_col=vec_col, id_col=id_col,
        n_probe=min(n_super_probe, len(q.supers.rows)),
    ).select(id_col, vec_col, "nrm", F.col("cent_id").alias("__sid"))
    return q.members, probes


def _super_centroids(
    centroids: DataFrame, n_super: int, nlist: int
) -> DataFrame:
    """Block-sliced super-centroid means for the two-level path: rank
    centroids in ``cent_id`` order, slice the ranked list into
    ``n_super`` contiguous blocks, per-dimension decimal-exact mean per
    block (:func:`_decimal_mean_vectors`).

    The rank window runs on a KEY-ONLY projection: a global
    ``row_number`` necessarily funnels its input through a
    single-partition sort, and at this path's own target regime
    (nlist > 2^18 — GBs of centroid vectors) that sort must carry ONLY
    the 8-byte cent_id keys, never the cvec payload. The vectors rejoin
    by ``cent_id`` through a hinted merge join (both sides
    hash-partition in parallel; no broadcast of the vector side), so no
    single-partition exchange anywhere in this plan ever sees cvec."""
    from pyspark.sql import Window

    ranks = (
        centroids.select("cent_id")
        .withColumn("__pos", F.row_number().over(Window.orderBy("cent_id")))
        .withColumn(
            "__blk",
            F.expr(f"CAST(((__pos - 1) * {n_super}) DIV {nlist} AS BIGINT)"),
        )
        .select("cent_id", "__blk")
    )
    cpos = centroids.select("cent_id", "cvec").join(
        ranks.hint("merge"), "cent_id"
    )
    exploded = cpos.select(
        F.col("__blk").alias("__k"), F.posexplode("cvec").alias("__dim", "__v")
    )
    return _decimal_mean_vectors(exploded).select(
        F.col("__k").alias("cent_id"), "cvec"
    )


def _decimal_mean_vectors(exploded: DataFrame) -> DataFrame:
    """Per-key per-dimension engine-portable mean, rebuilt into vectors:
    input (``__k``, ``__dim``, ``__v``) → output (``__k``, ``cvec``).
    THE one copy of the cross-engine mean contract: the component sum
    accumulates in DECIMAL(28,12) (exact, order-free), is cast to double
    (correctly rounded in both engines), then divided by the count — one
    deterministic IEEE division; vectors rebuild via one
    ``array_sort(collect_list(struct))`` pass. Both aggregations are
    partial/final (map-side combine before each shuffle)."""
    comp = (
        exploded.groupBy("__k", "__dim")
        .agg(
            (
                F.sum(F.col("__v").cast("double").cast("decimal(28,12)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("__m")
        )
    )
    return comp.groupBy("__k").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__dim", "__m"))),
            lambda s: s["__m"],
        ).alias("cvec")
    )


def ivf_assign_two_level(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_super: int | None = None,
    n_super_probe: int = 4,
    n_probe: int = 1,
    shared: CoarseQuantizer | None = None,
) -> DataFrame:
    """Two-level coarse-quantized nearest-centroid assignment — the
    beyond-broadcast form of :func:`ivf_assign`: the centroid set is
    NEVER collected to the driver, inlined as a literal, captured in a
    task closure, or broadcast — it stays a distributed DataFrame
    end-to-end, so assignment keeps working when the cell-capped
    ``nlist ∝ N`` sizing pushes the centroid payload past
    executor/driver memory (see ``TWO_LEVEL_MIN_NLIST``). The ONLY
    driver-side values are the scalar ``centroids.count()`` and the
    ≈ √nlist-row SUPER set (:func:`coarse_quantizer`).

    Algorithm (classic two-level IVF / coarse quantizer, cf. the IMI
    family):

    1. Slice the centroids, ranked in ``cent_id`` order, into
       ``n_super`` contiguous blocks (:func:`_super_centroids` — the
       rank window runs key-only).
    2. Super-centroid j = per-dimension decimal-exact mean of block j.
    3. Each CENTROID joins the inverted list of its nearest
       super-centroid; each VECTOR probes its ``n_super_probe`` nearest
       super-centroids — both via flat :func:`ivf_assign` against the
       SMALL super set.
    4. Vectors meet candidate centroids through an equi-join on the
       super-cell key and rank TWO-PHASE: a plain-double cosine ranks the
       candidates through a salted key-only top-k, and the exact-decimal
       algebra (the oracle contract) re-scores only rows whose double
       ranking is ambiguous (soundness argument at the implementation
       site). Output membership is identical to the pure exact ranking.

    APPROXIMATE by construction: a vector's true nearest centroid can
    live in an unprobed super-cell (recall improves with
    ``n_super_probe``). Measured trade at nlist=10⁴ / n_super=100 over
    the 20k-vector sf1 corpus (``bench_twolevel_r9.json`` in git history):
    agreement with flat (exact) assignment 0.888 / 0.922 / 0.956 /
    0.990 / 0.999 at n_super_probe = 1 / 2 / 4 / 8 / 16, with candidate
    pairs 4.2M / 4.9M / 6.3M / 15.6M / 33.0M: the default of 4 sits at
    the knee and 8 is the cheap high-recall setting. Deterministic and
    fully oracle-restatable: every step is relational algebra over
    deterministic keys (the ``similarity_twolevel_assign`` gate query
    restates ALL of it in DuckDB SQL).

    Cost shape at 100 TB: flat assignment has ZERO corpus shuffles;
    this path pays ONE corpus-side shuffle into the super-cell
    equi-join (N · n_super_probe rows keyed on ~n_super cells; AQE
    skew-split handles hot cells). A standing deployment amortizes it
    by bucketing the corpus on the super-cell key once
    (:func:`two_level_parts`). Rows whose probed super-cells own zero
    centroids drop out (inner join — empty cells, standard IVF
    behavior). Candidates are distinct per vector by construction (each
    centroid lives in exactly one super-cell).

    The top-k is SALTED two-stage: a single per-vector ``collect_list``
    would hold the full per-vector candidate count (``n_super_probe ·
    nlist / n_super`` entries ≈ 33 KB per vector at nlist = 2¹⁸).
    Stage 1 groups by ``(id, pmod(hash(cent_id), TWO_LEVEL_SALTS))`` and
    keeps each salt's local top-``n_probe + 1`` plus the two-phase
    boundary window (every candidate lands in exactly one salt group,
    and any member of the global top-k is a member of its own salt's
    top-k, so the merge is EXACT); stage 2 merges the per-salt
    survivors per vector. Both stages run KEY-ONLY — (id, salt, struct)
    rows, never the vector payload — and the payload (vec, nrm) rejoins
    by ``id_col`` afterwards. Census at nlist=10⁴
    (``bench_twolevel_r10.json`` in git history, ``topk_buffer_census``): the
    unsalted per-vector buffer bound tracks the candidate count; the
    salted bounds don't.

    ``shared`` is a prebuilt two-level :class:`CoarseQuantizer`; it must
    have been built with exactly ``n_super`` / ``n_super_probe``.

    CONTRACT: ``id_col`` values must be unique (the standing assumption
    everywhere in this package). The payload rejoins by ``id_col`` after
    the key-only merge, so DUPLICATE ids would fan each pick out across
    the duplicates; the contract is documented rather than enforced with
    a ``dropDuplicates``, which would add a payload-carrying shuffle to
    every call to guard an out-of-contract input.
    """
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    q = _two_level(centroids, n_super, n_super_probe, shared)
    members, probes = two_level_parts(
        df, centroids, vec_col=vec_col, id_col=id_col, n_super=n_super,
        n_super_probe=n_super_probe, shared=q,
    )
    cand = probes.join(members, "__sid")
    # ---- salted two-stage top-k, KEY-ONLY, TWO-PHASE -------------------
    # Phase 1 scores every candidate with the PLAIN-DOUBLE cosine (the
    # decimal algebra is ~5 Decimal ops/element, interpreted — measured
    # 3.69 s vs 0.64 s on the 64k-row gate-dial candidate join) and runs
    # the salted key-only top-k on that ranking; the exact-decimal
    # algebra (the oracle contract) re-scores ONLY rows whose double
    # ranking is ambiguous. Soundness — the :func:`ivf_assign` two-phase
    # discipline applied to the join topology, with a per-salt keep
    # width:
    #
    # - any correctly-rounded float64 dot differs from the exact decimal
    #   dot by < dim·ulp ≈ 1e-13 relative, so with |nrm·cnrm| > 1e-3 the
    #   fast-vs-exact cosine gap is < 1e-7 ≪ EPS for every TRUSTED
    #   candidate (finite fast score, non-degenerate norms);
    # - per salt, sorted ascending by (fast negcos, cent_id), we keep
    #   the first n_probe+1 entries (so the global fast top-(n_probe+1)
    #   — the gap check's operands — always survives the merge), plus
    #   every entry within 2·EPS of the salt's n_probe-th fast score
    #   (any member of the EXACT top-n_probe must land there: its exact
    #   score ≤ the global exact kth ≤ salt kth fast + ε′, since the
    #   salt's own top-n_probe fast entries bound the global kth), plus
    #   ALL entries of any salt containing an UNTRUSTED candidate (no
    #   bound holds there, so nothing may be dropped);
    # - a row is DECISIVE when its total candidate count ≤ n_probe
    #   (membership = everything, any algebra) or when it has zero
    #   untrusted candidates and the merged fast gap between positions
    #   n_probe and n_probe+1 exceeds EPS — then the fast top-n_probe
    #   SET equals the exact top-n_probe SET (membership is what
    #   callers consume; true exact ties have fast gap < 2·1e-7 ≪ EPS
    #   and stay ambiguous, so cent_id tie-breaks happen in the exact
    #   tree only);
    # - ambiguous rows (≈ 0-probability on real embeddings) re-score
    #   their KEPT candidates — provably a superset of the exact
    #   top-n_probe — with the exact decimal tree: the kept (id,
    #   cent_id) pairs rejoin the centroid payload off the centroid
    #   frame and the vector payload by id, never re-running the
    #   corpus probe pass (AQE's empty-relation propagation collapses
    #   the fallback join when no row is ambiguous — the common case).
    #
    # Both aggregation stages stay KEY-ONLY ((id, salt, struct) rows,
    # never the vector payload — the `_super_centroids` discipline);
    # the payload rejoins by ``id_col`` afterwards.
    EPS = 1e-6
    den = F.col("nrm") * F.col("__cnrm")
    staged = cand.select(
        id_col,
        "__cid",
        (-(_ddot(F.col(vec_col), F.col("__cv")) / _nz(den))).alias("__fn"),
        den.alias("__den"),
    )
    trusted = (
        (F.col("__den") > F.lit(1e-3))
        & F.col("__fn").isNotNull()
        & ~F.isnan("__fn")
    )
    keyed = staged.select(
        id_col,
        F.pmod(F.hash("__cid"), F.lit(TWO_LEVEL_SALTS)).alias("__salt"),
        F.struct(
            F.col("__fn").alias("n"),
            F.col("__cid").alias("c"),
            (~F.coalesce(trusted, F.lit(False))).alias("u"),
        ).alias("__e"),
    )
    per_salt = keyed.groupBy(id_col, "__salt").agg(
        F.array_sort(F.collect_list("__e")).alias("__ss"),
        F.sum(F.when(F.col("__e")["u"], 1).otherwise(0)).alias("__ucnt"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    kth_n = F.element_at(
        F.col("__ss"), F.least(F.lit(n_probe), F.size("__ss"))
    )["n"]
    kept = F.when(F.col("__ucnt") > 0, F.col("__ss")).otherwise(
        F.filter(
            F.col("__ss"),
            lambda e, i: (i < F.lit(n_probe + 1))
            | (e["n"] <= kth_n + F.lit(2 * EPS)),
        )
    )
    merged = per_salt.groupBy(id_col).agg(
        F.array_sort(F.flatten(F.collect_list(kept))).alias("__ms"),
        F.sum("__cnt").alias("__n"),
        F.sum("__ucnt").alias("__u"),
    )
    gap_ok = F.when(
        F.size("__ms") > F.lit(n_probe),
        F.element_at("__ms", n_probe + 1)["n"]
        - F.element_at("__ms", n_probe)["n"]
        > F.lit(EPS),
    ).otherwise(F.lit(False))
    ok = (F.col("__n") <= F.lit(n_probe)) | ((F.col("__u") == 0) & gap_ok)
    # ONE linear chain for both outcomes (no fork/union — a forked plan
    # doubled the analyzed tree and every downstream re-analysis):
    # decisive rows explode exactly their final n_probe picks, ambiguous
    # rows explode their full kept set; the centroid payload left-joins
    # ONLY onto ambiguous rows (join condition carries ¬ok), the vector
    # payload joins by id for everyone (the output needs it anyway), and
    # one aggregation resolves both cases — decisive rows' entries score
    # NULL and are ≤ n_probe by construction (the slice keeps them all),
    # ambiguous rows re-rank by the exact-decimal (negcos, cent_id)
    # struct order, NULL-negcos-first.
    # The centroid payload comes straight off the centroid frame (+ the
    # same decimal norm every assign path computes) — NOT off `members`,
    # whose subtree would re-plan the whole supers assignment here.
    exploded = merged.select(
        id_col,
        ok.alias("__ok"),
        F.explode(
            F.transform(
                F.when(ok, F.slice("__ms", 1, n_probe)).otherwise(
                    F.col("__ms")
                ),
                lambda e: e["c"],
            )
        ).alias("__cid"),
    )
    cent_payload = centroids.select(
        F.col("cent_id").alias("__ccid"),
        F.col("cvec").alias("__cv"),
        norm(F.col("cvec")).alias("__cnrm"),
    )
    payload = with_norm(df.select(id_col, vec_col), vec_col=vec_col)
    rescored = (
        exploded.join(
            cent_payload,
            (F.col("__cid") == F.col("__ccid")) & ~F.col("__ok"),
            "left",
        )
        .join(payload, id_col)
        .select(
            id_col,
            vec_col,
            "nrm",
            F.struct(
                F.when(
                    ~F.col("__ok"),
                    -(
                        dot(F.col(vec_col), F.col("__cv"))
                        / _nz(F.col("nrm") * F.col("__cnrm"))
                    ),
                ).alias("n"),
                F.col("__cid").alias("c"),
            ).alias("__e"),
        )
    )
    out = rescored.groupBy(id_col).agg(
        F.slice(F.array_sort(F.collect_list("__e")), 1, n_probe).alias("__bs"),
        F.first(vec_col).alias(vec_col),
        F.first("nrm").alias("nrm"),
    )
    return out.select(
        id_col, vec_col, "nrm",
        F.explode(F.transform("__bs", lambda e: e["c"])).alias("cent_id"),
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    n_iter: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    two_level: bool = False,
    n_super: int | None = None,
    n_super_probe: int = 4,
) -> DataFrame:
    """Lloyd iteration(s) for IVF centroids as a relational assign→mean
    loop: nearest-centroid assignment (:func:`ivf_assign`) → per-
    (centroid, dimension) mean → rebuilt centroid arrays.

    The mean is engine-portable by the same discipline as every other
    cross-engine number here (:func:`_decimal_mean_vectors`). Centroids
    that attract no vectors drop out (standard Lloyd behavior; k can
    shrink).

    Centroid lifecycle per iteration: a flat quantizer materializes the
    refreshed centroid set ONCE per iteration (nlist × dim doubles
    through the driver per Lloyd step — inlined literal at small nlist,
    one torrent-shipped ``SparkContext.broadcast`` at large nlist; each
    broadcast stays in executor memory until Spark's ContextCleaner
    collects the dropped Python reference). That is fine up to
    ``TWO_LEVEL_MIN_NLIST``; past it pass ``two_level=True`` (sized by
    ``n_super`` / ``n_super_probe``) — the refreshed means then flow
    DIRECTLY from the aggregate into the next iteration's super-cell
    join with no driver round-trip of the centroid set (only the scalar
    count crosses).

    Under ``two_level=True`` each iteration's refreshed centroid frame
    is PERSISTED (executor storage — still no driver round-trip),
    eagerly materialized with a scalar count, and the previous
    iteration's cache released: the flat quantizer truncates the
    per-iteration lineage for free when it collects the set, but the
    two-level path never collects it, so without the cache each
    downstream consumer (the count, the super-mean job, the member
    assignment) would re-run the ENTIRE prior Lloyd chain — exponential
    recomputation in n_iter. Peak footprint: 2 × nlist × dim doubles of
    executor storage; the returned frame stays persisted and is
    CALLER-OWNED: unpersist it when the standing centroid set is
    replaced.

    Returns a (cent_id, cvec) DataFrame for :func:`coarse_quantizer`."""
    prev = None
    for _ in range(n_iter):
        q = coarse_quantizer(
            centroids, two_level=two_level, n_super=n_super,
            n_super_probe=n_super_probe,
        )
        assigned = ivf_assign(
            ensure_parallelism(corpus), q, vec_col, id_col, n_probe=1
        )
        exploded = assigned.select(
            F.col("cent_id").alias("__k"),
            F.posexplode(F.col(vec_col)).alias("__dim", "__v"),
        )
        centroids = _decimal_mean_vectors(exploded).select(
            F.col("__k").alias("cent_id"), "cvec"
        )
        if two_level:
            centroids = centroids.persist()
            centroids.count()  # materialize against the still-cached prev
            if prev is not None:
                prev.unpersist()
            prev = centroids
    return centroids


def seed_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The first ``n_centroids`` corpus vectors by id as a (cent_id, cvec)
    frame — the deterministic sampling init (:func:`kmeans_refine` is
    the Lloyd loop that improves it)."""
    return (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec"))
    )


# --- the IVF index: one build, one search ------------------------------------


@dataclass(frozen=True, eq=False)
class Codec:
    """What an IVF index stores per row next to (id, vec, nrm, cent_id),
    and what its first search pass scores — as a value:

    - ``"flat"``: nothing; the first pass is the exact cosine.
    - ``"binary"``: packed 1-bit words ``w0..`` (:func:`binary_quantize`)
      against ``thresholds``; first pass Hamming distance.
    - ``"pq"``: product-quantization codes ``code_0..code_{m-1}``
      (:func:`pq_encode`) against ``books`` (:func:`pq_codebooks`
      format); first pass the asymmetric distance (ADC). With
      ``residual=True`` the codes encode x − mean(cell(x)) against the
      Lloyd cell ``means`` (cent_id, cvec), and each query builds one LUT
      per probed cell from its own residual.

    An UNTRAINED codec (``thresholds`` / ``books`` / ``means`` None)
    carries the training dials ``m`` / ``n_codes`` / ``refine_iters``;
    binary thresholds train as the corpus :func:`dimension_means` (pass
    ``dim`` thresholds for any other codebook — sign bits are
    ``Codec("binary", thresholds=[0.0] * dim)``).
    :func:`build_ivf_index` returns the trained codec;
    :func:`read_ivf_index` returns the stored one. The binary codec also
    drives the cell-free Hamming family (:func:`binary_hamming_topk`,
    :func:`binary_hamming_radius_pairs`, :func:`binary_dedup_survivors`
    and the standing band index)."""

    kind: str = "flat"
    dim: int = 64
    m: int = 4
    n_codes: int = 16
    refine_iters: int = 0
    residual: bool = False
    thresholds: list[float] | None = None
    books: list[tuple[int, int, list[float]]] | None = None
    means: DataFrame | None = None

    def __post_init__(self):
        if self.kind not in ("flat", "binary", "pq"):
            raise ValueError(f"unknown codec kind: {self.kind!r}")
        if self.residual and self.kind != "pq":
            raise ValueError(
                "residual=True requires kind='pq' (residual codes ARE pq "
                "codes, referenced to the cell means)"
            )
        if self.thresholds is not None and len(self.thresholds) != self.dim:
            raise ValueError(
                f"binary codec: {len(self.thresholds)} thresholds for "
                f"dim={self.dim}"
            )

    @property
    def columns(self) -> list[str]:
        """The index columns this codec stores."""
        if self.kind == "binary":
            n_words = (self.dim + BINARY_WORD_BITS - 1) // BINARY_WORD_BITS
            return [f"w{w}" for w in range(n_words)]
        if self.kind == "pq":
            return [f"code_{s}" for s in range(self.m)]
        return []

    def check_trained(self) -> None:
        """Raise unless the codec carries everything a search needs —
        in particular a residual codec without its cell means would
        score the codes in the wrong frame."""
        if self.kind == "binary" and self.thresholds is None:
            raise ValueError("binary codec has no thresholds — build or read it")
        if self.kind == "pq" and self.books is None:
            raise ValueError("pq codec has no codebooks — build or read it")
        if self.residual != (self.means is not None):
            raise ValueError(
                "residual pq codes must be searched with exactly their "
                "cell means (residual=True ⟺ means present) — take the "
                "codec from build_ivf_index or read_ivf_index"
            )


def build_ivf_index(
    corpus: DataFrame,
    quantizer,
    codec: Codec | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, Codec]:
    """The IVF index frame: (id, vec, nrm, cent_id, *codec.columns) — each
    corpus vector with its nearest-centroid assignment (``quantizer``: a
    :class:`CoarseQuantizer` or a centroid frame) and its codec encoding,
    plus the trained codec.

    ONE corpus scan chains assign → encode: binary words are a map-side
    projection of the assigned rows; PQ codes are :func:`pq_encode` over
    the assigned (or residual) rows with the index columns carried
    through ``keep`` — no id re-join. An untrained codec is trained
    here: binary thresholds from :func:`dimension_means`;
    PQ books by sampling init + ``refine_iters`` Lloyd passes
    (:func:`pq_refine_codebooks`), residual books over x − mean(cell(x))
    with the cell means and the init books fused into one collect
    (:func:`_materialize_means_and_residual_books`). A trained codec is
    used as-is (the standing-codebook contract of appends); given
    residual means, every row must assign to a cell that has one, else
    ``ValueError`` before anything is written — such a row would
    otherwise drop out of the residual join.

    Search the frame in memory with :func:`ivf_search`, or persist it
    with :func:`write_ivf_index`."""
    q = _quantizer(quantizer)
    codec = codec or Codec()
    assigned = ivf_assign(
        ensure_parallelism(corpus), q, vec_col, id_col, n_probe=1
    )
    cols = [id_col, vec_col, "nrm", "cent_id"]
    if codec.kind == "flat":
        return assigned.select(*cols), codec
    if codec.kind == "binary":
        codec = _binary_codec(codec, corpus, vec_col)
        return _packed_words(assigned, vec_col, cols, codec), codec
    m, dim = codec.m, codec.dim
    books, means = codec.books, codec.means
    trained_here = books is None
    if codec.residual:
        if means is not None:
            orphans = [
                r[id_col]
                for r in assigned.join(
                    F.broadcast(means.select("cent_id")), "cent_id", "left_anti"
                )
                .select(id_col)
                .limit(5)
                .collect()
            ]
            if orphans:
                raise ValueError(
                    "build_ivf_index: rows assign to cells with no residual "
                    f"cell mean (e.g. ids {orphans}) — the index was built "
                    "without those cells; rebuild it including these rows"
                )
        elif books is None:
            means, books = _materialize_means_and_residual_books(
                assigned, vec_col, id_col, m, codec.n_codes, dim
            )
        else:
            means = _materialize_cell_means(assigned, vec_col)
        src = _ivf_residuals(assigned, means, vec_col)
        seg_col = "__rvec"
        train_src = src.select(id_col, F.col(seg_col).alias(vec_col))
    else:
        src, seg_col, train_src = assigned, vec_col, corpus
    if books is None:
        books = pq_codebooks(corpus, m, codec.n_codes, id_col, vec_col, dim)
    if trained_here and codec.refine_iters:
        books = pq_refine_codebooks(
            train_src, books, m, id_col, vec_col, dim,
            iters=codec.refine_iters,
        )
    codec = replace(codec, books=books, means=means)
    codes = pq_encode(src, books, m, id_col, seg_col, dim, keep=cols[1:])
    return codes.select(*cols, *codec.columns), codec


def ivf_search(
    index: DataFrame,
    queries: DataFrame,
    quantizer,
    codec: Codec | None = None,
    k: int = 5,
    n_probe: int = 4,
    rerank_k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF top-k over an index frame (:func:`build_ivf_index` in memory,
    or :func:`read_ivf_index` persisted): queries probe their
    ``n_probe`` nearest cells (``quantizer`` — the one the index was
    built with), the codec's first pass scores the candidates in the
    probed cells, and with ``rerank_k`` the per-query top-``rerank_k``
    re-rank exactly to the final ``k``.

    First pass by codec — each probe/LUT side broadcasts into an
    equi-join on ``cent_id``, so on a persisted index dynamic partition
    pruning narrows the scan to the probed cell directories and column
    pruning to the columns the pass reads:

    - flat: exact decimal cosine over (id, vec, nrm) — output
      (query_id, id, cosine) descending.
    - binary: Hamming over the packed words; queries quantize against
      the codec's thresholds (one codebook, build and probe) — output
      (query_id, id, hamming) ascending; the first-pass scan reads
      (id, words) only.
    - pq: ADC — each query's m×n_codes LUT of exact subspace distances
      (per probed cell from its residual q − mean for residual codecs,
      where the (query, cell)-keyed LUT join is itself the probe
      restriction) summed over the code lookups — output (query_id, id,
      adc_dist) ascending; the first-pass scan reads (id, codes) only.

    The re-rank joins the ≤ nq·rerank_k candidates back to the index on
    (cent_id, id) — candidates remember their cell, so on a persisted
    index the re-rank scan is pruned to the SAME probed cells — and
    scores the exact metric the codec approximates with the stored
    norms: cosine (flat, binary; output column ``cosine``, descending)
    or squared L2 |q|² + |x|² − 2·q·x (pq; output column ``d2``,
    ascending). Full-width vectors are never shuffled.

    The index must carry the codec's columns (``ValueError`` otherwise)
    and the codec must be trained (:meth:`Codec.check_trained`). Ties
    break by id. ``exclude_self`` drops candidates whose id equals the
    query id — leave it on only when query ids are drawn from the
    corpus id space."""
    codec = codec or Codec()
    missing = [
        c for c in (id_col, "cent_id", *codec.columns)
        if c not in index.columns
    ]
    if missing:
        raise ValueError(
            f"ivf_search: index frame lacks columns {missing} needed by a "
            f"{codec.kind!r} codec — search the index with the codec it "
            "was built with"
        )
    codec.check_trained()
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    probes = ivf_assign(q, quantizer, "__qvec", query_id_col, n_probe=n_probe)
    not_self = (
        F.col(query_id_col) != F.col(id_col) if exclude_self else F.lit(True)
    )
    if codec.kind == "flat":
        first = (
            index.select(id_col, vec_col, "nrm", "cent_id")
            .join(
                F.broadcast(
                    probes.select(
                        query_id_col, "__qvec",
                        F.col("nrm").alias("__qnrm"), "cent_id",
                    )
                ),
                "cent_id",
            )
            .filter(not_self)
            .select(
                query_id_col, id_col, "cent_id",
                _exact_score("cosine", vec_col).alias("cosine"),
            )
        )
        score, descending = "cosine", True
    elif codec.kind == "binary":
        qw = _query_words(queries, codec, id_col, vec_col, query_id_col)
        qidx = probes.select(query_id_col, "cent_id").join(qw, query_id_col)
        first = (
            index.select(id_col, "cent_id", *codec.columns)
            .join(F.broadcast(qidx), "cent_id")
            .filter(not_self)
            .select(
                query_id_col, id_col, "cent_id",
                _hamming_expr(len(codec.columns)).alias("hamming"),
            )
        )
        score, descending = "hamming", False
    else:
        code_rows = _code_rows(index, codec.m, [id_col, "cent_id"])
        if codec.residual:
            qcells = _ivf_residuals(probes, codec.means, "__qvec").select(
                query_id_col, "cent_id", F.col("__rvec").alias("__qvec")
            )
            lut = _pq_lut(
                qcells, codec.books, codec.m, codec.dim, query_id_col,
                extra_keys=["cent_id"],
            )
            matched = code_rows.join(F.broadcast(lut), ["cent_id", "s", "code"])
        else:
            lut = _pq_lut(q, codec.books, codec.m, codec.dim, query_id_col)
            matched = code_rows.join(
                F.broadcast(probes.select(query_id_col, "cent_id")), "cent_id"
            ).join(F.broadcast(lut), [query_id_col, "s", "code"])
        first = (
            matched.filter(not_self)
            .groupBy(query_id_col, id_col, "cent_id")
            .agg(F.sum(F.col("dist").cast(DEC)).cast("double").alias("adc_dist"))
        )
        score, descending = "adc_dist", False
    top = top_k_per_group(
        first, [query_id_col], score, k if rerank_k is None else rerank_k,
        descending=descending, tiebreak=[id_col],
    )
    if rerank_k is None:
        return top.select(query_id_col, id_col, score)
    return _exact_rerank(
        index, q, top.select(query_id_col, id_col, "cent_id"), k,
        "d2" if codec.kind == "pq" else "cosine",
        id_col, vec_col, query_id_col,
    )


def _exact_rerank(
    rows: DataFrame,
    q: DataFrame,
    cands: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact re-rank of a bounded candidate set to the final top-k — the
    second stage of every compressed first pass. ``rows`` carries (id,
    vec, nrm[, cent_id]), ``q`` (query_id, __qvec), ``cands`` (query_id,
    id[, cent_id]); candidates join back to ``rows`` on every candidate
    key. Candidates broadcast INTO the join with the query vectors
    attached, so full-width vectors are never shuffled: read once,
    filtered by the broadcast, scored map-side. ``metric`` is an :func:`_exact_score` metric:
    ``"cosine"`` (output ``cosine`` descending) or ``"d2"`` (output
    ``d2`` ascending — the "+R" of IVFADC+R)."""
    pairs = cands.join(
        F.broadcast(with_norm(q, "__qvec", "__qnrm")), query_id_col
    )
    keys = [c for c in cands.columns if c != query_id_col]
    rers = (
        rows.select(*keys, vec_col, "nrm")
        .join(F.broadcast(pairs), keys)
        .select(
            query_id_col, id_col, _exact_score(metric, vec_col).alias(metric)
        )
    )
    return top_k_per_group(
        rers, [query_id_col], metric, k,
        descending=metric == "cosine", tiebreak=[id_col],
    )


def _hadoop_path_exists(spark, path: str) -> bool:
    """Existence probe through the session's Hadoop FileSystem — the
    same resolution the parquet reader uses, so 'absent' here means
    exactly what a read would report as PATH_NOT_FOUND."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def write_ivf_index(
    corpus: DataFrame,
    quantizer,
    path: str,
    codec: Codec | None = None,
    mode: str = "overwrite",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> Codec:
    """Persist the STANDING IVF index: :func:`build_ivf_index`'s frame
    PARTITIONED BY ``cent_id``, one directory per inverted list
    (:func:`_write_index`), with the trained codec in sidecars —
    ``_thresholds`` (binary), ``_codebooks`` (pq) and ``_cell_means``
    (residual pq); the underscore prefix hides them from the main
    parquet read. Returns the trained codec.

    This is the amortization step of every production ANN deployment:
    assignment, codec training and encoding run ONCE at build time, and
    the cell directories turn probing into PARTITION PRUNING — a probe
    of ``n_probe`` cells reads ``n_probe / nlist`` of the FILES, and
    the codec's first pass only (id, words|codes) of their COLUMNS.
    Norms are stored so query scoring never recomputes them. Read back
    with :func:`read_ivf_index`.

    ``mode="append"`` grows an existing index with the STORED codec
    (:func:`_standing_codec`, shared with
    :func:`write_binary_band_index`); a residual append whose rows
    assign to cells the build never populated raises (no stored mean
    exists for them). ALL append validation runs BEFORE the first byte
    is written. The quantizer must be the one the index was built
    with."""
    spark = corpus.sparkSession
    codec = codec or Codec()
    if mode == "append":
        codec = _standing_codec(spark, path, codec, "write_ivf_index")
    index, codec = build_ivf_index(corpus, quantizer, codec, vec_col, id_col)
    _write_index(index, path, mode, codec, ["cent_id"])
    return codec


def _write_index(
    frame: DataFrame,
    path: str,
    mode: str,
    codec: Codec,
    by: list[str],
    extra: list | None = None,
) -> None:
    """Write a standing index: ``frame`` PARTITIONED BY ``by`` (one
    directory per inverted list or band bucket), then, on a build, the
    codec's sidecars (:func:`_write_sidecars`, plus ``extra``). An
    append writes none: the stored codec it was validated against
    (:func:`_standing_codec`) stays authoritative. Rows cluster by
    directory before the write, into an EXPLICIT defaultParallelism
    partitions: unclustered, every task opens a file in every directory
    it sees (a 2048-bucket band build measured 250 s against 39 s
    clustered); with no count, AQE coalesces small builds to ONE task
    opening the files serially (4.9 s vs 1.6 s measured)."""
    spark = frame.sparkSession
    frame.repartition(spark.sparkContext.defaultParallelism, *by).write.mode(
        mode
    ).partitionBy(*by).parquet(path)
    if mode != "append":
        _write_sidecars(spark, path, codec, extra)


def _standing_codec(spark, path: str, codec: Codec, writer: str) -> Codec:
    """The codec an append to the standing index at ``path`` encodes
    with: the STORED one (the one-codebook contract — a codebook
    re-trained on a batch would put old and new rows in different
    codebooks). ``codec`` must name the stored kind and residual flag
    and, if it carries trained thresholds or books, equal the stored
    ones; with no index at ``path`` only a flat codec (nothing to train)
    may append. Anything else raises ``ValueError`` before the first
    byte is written."""
    if not _hadoop_path_exists(spark, path):
        if codec.kind == "flat":
            return codec
        raise ValueError(
            f"{writer}(mode='append'): no standing index at {path!r} — "
            "build it first with mode='overwrite' (append grows an "
            "existing index; it never trains a codec)"
        )
    stored = _read_codec(spark, path)
    if (codec.kind, codec.residual) != (stored.kind, stored.residual):
        raise ValueError(
            f"{writer}(mode='append'): codec kind={codec.kind!r}, "
            f"residual={codec.residual} does not match the standing "
            f"index (kind={stored.kind!r}, residual={stored.residual}) — "
            "appended rows must carry exactly the standing layout's "
            "representation, or readers see NULL codes and silently "
            "drop them from candidates"
        )
    if (
        codec.thresholds is not None
        and [float(v) for v in codec.thresholds] != stored.thresholds
    ) or (codec.books is not None and sorted(codec.books) != stored.books):
        raise ValueError(
            f"{writer}(mode='append'): the codec's trained codebook differs "
            "from the standing index's stored one — append with the "
            "untrained codec (or the one read back) instead"
        )
    return stored


def _write_sidecars(
    spark, path: str, codec: Codec, extra: list | None = None
) -> None:
    """Write the codec's sidecars, plus any ``extra`` (name, frame)
    pairs, AFTER the main write (an overwrite build wipes the whole
    directory first). Each sidecar frame is born in ONE slice
    (:func:`local_df`), so each write is one task and one file with no
    coalesce — coalesce(1) over a default local frame drains its slices
    serially through a single task's worker pipe (measured ~5.5 s per
    kilobyte-scale sidecar; ~0.5 s this way). The sidecars are
    independent (distinct subdirectories), so they submit CONCURRENTLY
    from a small thread pool: each write is one single-task job whose
    wall is mostly driver/commit latency."""
    sidecars = list(extra or [])
    if codec.kind == "binary":
        sidecars.append((
            "_thresholds",
            local_df(
                spark,
                [(i, float(v)) for i, v in enumerate(codec.thresholds)],
                "i int, threshold double",
            ),
        ))
    if codec.kind == "pq":
        sidecars.append((
            "_codebooks",
            local_df(
                spark,
                [
                    (s, code, i, float(v))
                    for (s, code, vals) in codec.books
                    for i, v in enumerate(vals)
                ],
                "s int, code int, i int, v double",
            ),
        ))
    if codec.residual:
        # doubles are parquet-binary-stable, so the read rebuilds EXACTLY
        # the vectors the codes were referenced to
        sidecars.append((
            "_cell_means",
            codec.means.select("cent_id", F.posexplode("cvec").alias("i", "v")),
        ))

    def _write(item):
        name, frame = item
        frame.write.mode("overwrite").parquet(f"{path}/{name}")

    if len(sidecars) == 1:
        _write(sidecars[0])
    elif sidecars:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(sidecars)) as pool:
            list(pool.map(_write, sidecars))


def _read_codec(spark, path: str) -> Codec:
    """The trained codec stored in an index's sidecars. A sidecar that
    is absent means the index does not use that representation; one that
    EXISTS but fails to read (an empty directory from a crashed write,
    wrong columns) raises rather than being mistaken for absent."""

    def sidecar(name):
        p = f"{path}/{name}"
        return spark.read.parquet(p) if _hadoop_path_exists(spark, p) else None

    thr = sidecar("_thresholds")
    if thr is not None:
        vals = [float(r["threshold"]) for r in thr.orderBy("i").collect()]
        return Codec("binary", dim=len(vals), thresholds=vals)
    cb = sidecar("_codebooks")
    if cb is None:
        return Codec()
    found: dict[tuple[int, int], list[float]] = {}
    for r in cb.orderBy("s", "code", "i").collect():
        found.setdefault((int(r["s"]), int(r["code"])), []).append(float(r["v"]))
    books = [(s, code, vals) for (s, code), vals in sorted(found.items())]
    m = max(s for s, _, _ in books) + 1
    cm = sidecar("_cell_means")
    means = None if cm is None else cm.groupBy("cent_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "v"))), lambda s: s["v"]
        ).alias("cvec")
    )
    return Codec(
        "pq", dim=m * len(books[0][2]), m=m, n_codes=len(books) // m,
        residual=means is not None, books=books, means=means,
    )


def read_ivf_index(spark, path: str) -> tuple[DataFrame, Codec]:
    """Read a :func:`write_ivf_index` layout back: the index frame (id,
    vec, nrm, cent_id, *codec.columns) with ``cent_id`` as the partition
    column — so any ``cent_id`` predicate, static or
    dynamic-partition-pruned through a probe join, prunes directories
    before a single row is read — together with its stored codec.

    ``cent_id`` is re-cast to ``bigint`` (the centroid-id convention)
    because parquet partition values are directory names whose type
    Spark re-infers on read (typically INT); the cast is
    directory-metadata only and does not defeat partition pruning. The
    cell means of a residual codec stay a lazy frame (they broadcast into
    the query-side residual subtract)."""
    df = spark.read.parquet(path)
    return (
        df.withColumn("cent_id", F.col("cent_id").cast("bigint")),
        _read_codec(spark, path),
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    dim: int = 64,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Recall < 1 by construction; cost drops by ~2^n_planes vs brute
    force."""
    cb = lsh_bucket(ensure_parallelism(corpus), vec_col, n_planes, dim)
    qb = lsh_bucket(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
        ),
        "__qvec",
        n_planes,
        dim,
    )
    scored = (
        with_norm(cb, vec_col)
        .join(F.broadcast(with_norm(qb, "__qvec", "__qnrm")), "bucket")
        .filter(
            F.col(query_id_col) != F.col(id_col) if exclude_self else F.lit(True)
        )
        .withColumn(
            "cosine",
            dot(F.col("__qvec"), F.col(vec_col))
            / _nz(F.col("__qnrm") * F.col("nrm")),
        )
        .select(query_id_col, id_col, "cosine")
    )
    return top_k_per_group(
        scored, [query_id_col], "cosine", k, descending=True, tiebreak=[id_col]
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Population covariance matrix of the embedding space — the
    embedding-table diagnostic behind whitening / PCA / dimension-pruning
    decisions in a training-data pipeline (which dimensions carry the
    variance, which pairs are redundant). Returns the upper triangle
    ``(i, j, cov)`` (1-based dims, ``i <= j`` — dim(dim+1)/2 rows).

    Physical shape for 100 TB — ONE corpus pass, no row-to-row joins:
    each vector emits its upper-triangle products PLUS its linear terms
    (sentinel ``j = 0``) as one flattened higher-order array, entirely
    map-side; partial aggregation collapses every partition to the
    dim(dim+1)/2 + dim cells before the single shuffle, so the exchange
    carries O(partitions · dim²) rows regardless of corpus size, and the
    final join of linear onto quadratic terms is over dim² rows
    (broadcast). Sums accumulate in DECIMAL(28,12) (exact, order-free —
    |elements| < 1 keeps every product in range at 10¹⁶ rows); the
    covariance is then evaluated in a PINNED IEEE order the oracle
    restates: ``(sxy − (sx · sy) / n) / n`` with n cast to double once.
    Rows whose vector is NULL or not ``dim`` long are excluded (a
    covariance over ragged vectors is undefined), matching the oracle's
    length filter."""
    e = F.col(vec_col)
    d = df.filter(e.isNotNull() & (F.size(e) == dim))
    upper = F.flatten(
        F.transform(
            e,
            lambda vi, i: F.transform(
                F.slice(e, i + 1, F.lit(dim) - i),
                lambda vj, j: F.struct(
                    (i + 1).alias("i"),
                    (i + 1 + j).alias("j"),
                    (vi.cast("double") * vj.cast("double")).alias("p"),
                ),
            ),
        )
    )
    linear = F.transform(
        e,
        lambda vi, i: F.struct(
            (i + 1).alias("i"),
            F.lit(0).cast("int").alias("j"),
            vi.cast("double").alias("p"),
        ),
    )
    cells = d.select(
        F.explode(F.concat(upper, linear)).alias("c")
    ).select(
        F.col("c.i").alias("i"), F.col("c.j").alias("j"), F.col("c.p").alias("p")
    )
    # the aggregate feeds THREE plan branches (quadratic terms + the
    # linear sums joined in twice for sx and sy); without pinning,
    # Catalyst re-derives the whole corpus aggregation per branch
    # (observed: 3 parquet scans, 9 exchanges) — persisting the
    # dim(dim+1)/2 + dim result rows makes the docstring's "one corpus
    # pass" physically true. Tiny by construction; never unpersisted
    # (same policy as semdedup's assignment cache).
    stats = cells.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(28,12)")).cast("double").alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).persist()
    lin = stats.filter(F.col("j") == 0).select(
        F.col("i").alias("li"), F.col("s").alias("sx"), F.col("n").alias("n")
    )
    quad = stats.filter(F.col("j") > 0).select("i", "j", F.col("s").alias("sxy"))
    return (
        quad.join(F.broadcast(lin), F.col("i") == F.col("li"))
        .join(
            F.broadcast(
                lin.select(F.col("li").alias("lj"), F.col("sx").alias("sy"))
            ),
            F.col("j") == F.col("lj"),
        )
        .select(
            "i",
            "j",
            (
                (
                    F.col("sxy")
                    - (F.col("sx") * F.col("sy")) / F.col("n").cast("double")
                )
                / F.col("n").cast("double")
            ).alias("cov"),
        )
    )


def embedding_standardize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Per-dimension z-score standardization of the embedding table —
    the whitening-prep companion to :func:`embedding_covariance`
    (normalize each dimension to zero mean / unit variance before
    distance-based dedup or clustering, so high-variance dimensions
    stop dominating the metric).

    Physical shape for 100 TB: two passes (the irreducible minimum for
    exact moments — mean/std first, then the transform), both
    shuffle-light. Pass 1: posexplode → partial-aggregated decimal sums
    per dimension (the shuffle carries O(partitions · dim) rows);
    population stddev from the exact (Σv, Σv²) pair with a pinned IEEE
    order: ``var = (sxx − (sx · sx) / n) / n``, both divisions by the
    double-cast n. Pass 2: re-explode and BROADCAST-join the dim stats
    rows back, ``z = (v − mean) / std`` in IEEE double, then per-vector
    integer summaries (``floor(z·1000 + 0.5)`` L1 and position-weighted
    checksum — the :func:`quantize_int8` discipline that lets the oracle
    verify every standardized component without comparing float arrays).
    Zero-variance dimensions standardize to 0 (not NaN — ANSI division
    by zero would kill the job on constant columns; a constant dimension
    carries no signal and 0 is the information-preserving choice).
    Rows whose vector is NULL or not ``dim`` long are excluded, like
    :func:`embedding_covariance`. Output: (id_col, n_dims, z_l1,
    z_checksum) — one row per valid vector."""
    e = F.col(vec_col)
    d = df.filter(e.isNotNull() & (F.size(e) == dim))
    ex = d.select(id_col, F.posexplode(e).alias("__i", "__v")).select(
        id_col, (F.col("__i") + 1).alias("__i"),
        F.col("__v").cast("double").alias("__v"),
    )
    stats = (
        ex.groupBy("__i")
        .agg(
            F.sum(F.col("__v").cast("decimal(28,12)")).cast("double").alias("sx"),
            F.sum(
                (F.col("__v") * F.col("__v")).cast("decimal(28,12)")
            ).cast("double").alias("sxx"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "__i",
            (F.col("sx") / F.col("n").cast("double")).alias("__mean"),
            # clamp before the sqrt (r8 ADVICE): on a (near-)constant
            # dimension the per-element DECIMAL rounding of v·v can leave
            # (sxx − sx²/n) a hair NEGATIVE — sqrt of that is NaN, and
            # NaN > 0 is TRUE under Spark's ordering, so the zero-variance
            # branch would be skipped and z = NaN. greatest(·, 0) pins the
            # docstring's "zero-variance dimensions standardize to 0"
            # (the oracle's ms CTE clamps identically).
            F.sqrt(
                F.greatest(
                    (
                        F.col("sxx")
                        - (F.col("sx") * F.col("sx"))
                        / F.col("n").cast("double")
                    )
                    / F.col("n").cast("double"),
                    F.lit(0.0),
                )
            ).alias("__std"),
        )
    )
    z = F.when(
        F.col("__std") > 0, (F.col("__v") - F.col("__mean")) / F.col("__std")
    ).otherwise(F.lit(0.0))
    q = F.floor(z * 1000.0 + 0.5).cast("long")
    return (
        ex.join(F.broadcast(stats), "__i")
        .select(id_col, "__i", q.alias("__q"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum(F.abs(F.col("__q"))).alias("z_l1"),
            F.sum(F.col("__q") * F.col("__i")).alias("z_checksum"),
        )
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``scale = 127 / max|v|``,
    ``q_i = floor(v_i * scale + 0.5)`` — the storage/bandwidth reduction
    step before shipping embeddings to an ANN index. Rounding is expressed
    as floor(+0.5), which both engines evaluate identically (round() HALF
    semantics differ between engines); all other math is IEEE double ops
    with one deterministic result.

    ``max_abs`` is a map-side array_max over the un-exploded vector (one
    shallow higher-order function — deep nested lambda trees are what breaks
    codegen), so the only shuffle is the final per-vector aggregation of the
    exploded components. Emits exact integer summaries (L1 norm,
    position-weighted checksum) so the oracle can verify every quantized
    component without comparing arrays."""
    max_abs = F.array_max(
        F.transform(F.col(vec_col), lambda v: F.abs(v.cast("double")))
    )
    scale = F.when(max_abs > 0, 127.0 / max_abs).otherwise(F.lit(1.0))
    ex = df.select(
        id_col,
        F.size(vec_col).alias("n_dims"),
        scale.alias("scale"),
        F.posexplode(vec_col).alias("pos", "v"),
    )
    q = F.floor(F.col("v").cast("double") * F.col("scale") + 0.5).cast("long")
    return (
        ex.groupBy(id_col, "n_dims", "scale")
        .agg(
            F.sum(F.abs(q)).alias("q_l1"),
            F.sum(q * (F.col("pos") + 1)).alias("q_checksum"),
        )
        .select(id_col, "n_dims", "scale", "q_l1", "q_checksum")
    )


# --- binary quantization + Hamming retrieval --------------------------------


def dimension_means(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> list[float]:
    """Per-dimension means of a vector column as plain Python floats —
    the thresholds an untrained binary :class:`Codec` trains to,
    computed ONCE from the corpus and reused verbatim for queries
    (quantizing queries against their own means would put the two sides
    in different codebooks).

    Engine-portable by the standing mean contract
    (:func:`_decimal_mean_vectors`): exact DECIMAL(28,12) component sum
    → double → one IEEE division, so DuckDB's restatement computes the
    bit-identical doubles and every ``v > mean`` comparison lands the
    same way on both engines. The collect is ``dim`` doubles — the
    declared build-collect-inline pattern (a few hundred bytes), same
    as the Bloom/count-min sketch builds. Rows outside
    :func:`_valid_vectors` are excluded, symmetrically with
    :func:`binary_quantize`."""
    rows = (
        _valid_vectors(df, vec_col, dim)
        .select(F.posexplode(vec_col).alias("__dim", "__v"))
        .groupBy("__dim")
        .agg(
            (
                F.sum(F.col("__v").cast("double").cast("decimal(28,12)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("__m")
        )
        .orderBy("__dim")
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(
            f"dimension_means: expected {dim} dimensions, got {len(rows)} — "
            "no qualifying rows or ragged vectors"
        )
    return [float(r["__m"]) for r in rows]


#: bits per packed word. 32 (not 64) so the per-word bit sum stays far
#: inside BIGINT on BOTH engines: DuckDB widens the CASE-WHEN sum to
#: HUGEINT and casts back, Spark's ANSI long sum must never touch the
#: sign bit, and 1<<31 ≤ sum < 2^32 clears both — the same reasoning as
#: the SimHash oracle's split words.
BINARY_WORD_BITS = 32


def binary_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    thresholds: list[float] | None = None,
) -> DataFrame:
    """Binary (1-bit) embedding quantization: bit ``d`` is 1 iff
    ``v[d] > thresholds[d]`` (all-zero thresholds when ``None`` — the
    sign-bit code for centered embeddings; pass
    :func:`dimension_means` output for the mean-threshold code). Bits
    pack into ``ceil(dim/32)`` 32-bit words carried as longs
    (``w0, w1, …``) — 32 B/vector → 8 B at dim=64, a 32× cut in every
    downstream shuffle/scan byte: Hamming-over-bits retrieval
    (:func:`binary_hamming_topk`) moves 3% of the float payload and
    re-ranks only survivors.

    ENTIRELY map-side: each word is a 32-term CASE sum over array
    elements against literal thresholds — exact integer algebra the
    oracle restates verbatim (raw float32-widened values compared with
    identically-computed double thresholds; no arithmetic precedes the
    compare). Rows outside :func:`_valid_vectors` are excluded, the
    same rule as the mean build.

    Output: (id_col, w0..w{n-1}) — key-only; callers re-attach payloads
    by ``id_col`` when needed (the re-rank step does)."""
    codec = Codec(
        "binary", dim=dim,
        thresholds=[0.0] * dim if thresholds is None else thresholds,
    )
    return _packed_words(df, vec_col, [id_col], codec)


def _packed_words(
    df: DataFrame, vec_col: str, head: list[str], codec: Codec
) -> DataFrame:
    """:func:`binary_quantize` against a trained binary codec, with any
    ``head`` columns ahead of the words (the IVF index build carries
    id, vector, norm and cell)."""
    e = F.col(vec_col)
    words = []
    for w, name in enumerate(codec.columns):
        acc = F.lit(0).cast("long")
        for j in range(min(BINARY_WORD_BITS, codec.dim - w * BINARY_WORD_BITS)):
            d = w * BINARY_WORD_BITS + j
            bit = F.when(
                e[d] > F.lit(float(codec.thresholds[d])), F.lit(1 << j)
            ).otherwise(F.lit(0))
            acc = acc + bit.cast("long")
        words.append(acc.alias(name))
    return _valid_vectors(df, vec_col, codec.dim).select(*head, *words)


def _binary_codec(
    codec: Codec | None, corpus: DataFrame, vec_col: str
) -> Codec:
    """A trained binary codec — the one training rule of the IVF build
    and the Hamming family: an untrained codec (``None`` means
    ``Codec("binary")``) trains its thresholds as the corpus
    :func:`dimension_means`; a trained one is used as-is. Any other
    codec kind raises."""
    codec = codec or Codec("binary")
    if codec.kind != "binary":
        raise ValueError(
            f"the Hamming family needs a binary codec, got kind={codec.kind!r}"
        )
    if codec.thresholds is None:
        codec = replace(
            codec,
            thresholds=dimension_means(corpus, vec_col=vec_col, dim=codec.dim),
        )
    return codec


def _query_words(
    queries: DataFrame,
    codec: Codec,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """The query side of a Hamming pass: (query_id, __q0..), packed
    against the codec's (corpus) thresholds — one codebook, build and
    probe."""
    return _packed_words(queries, vec_col, [id_col], codec).select(
        F.col(id_col).alias(query_id_col),
        *[F.col(w).alias(f"__q{w[1:]}") for w in codec.columns],
    )


#: bits per multi-index Hamming band (default): each packed 32-bit word
#: splits into two 16-bit bands, so a dim=64 code has 4 bands and the
#: pigeonhole guarantee covers Hamming radius ≤ 3 — the near-duplicate
#: regime the banded index exists for. Finer bands (8/4 bits) trade
#: larger guarantee radii for fuller band buckets (classic multi-index
#: Hamming: substring length ≈ log2(N) balances the two).
BINARY_BAND_BITS = 16


def _hamming_expr(n_words: int, q_prefix: str = "__q") -> Column:
    """Σ_w bit_count(w_i XOR q_i) over the packed words of both sides."""
    ham = F.lit(0).cast("long")
    for w in range(n_words):
        ham = ham + F.bit_count(
            F.col(f"w{w}").bitwiseXOR(F.col(f"{q_prefix}{w}"))
        ).cast("long")
    return ham


def _explode_bands(
    df: DataFrame, n_bands: int, band_bits: int, word_prefix: str = "w"
) -> DataFrame:
    """One row per (row, band): all original columns plus ``__bidx`` /
    ``__bval`` — band ``b`` is ``band_bits`` contiguous bits of the
    packed words, extracted map-side with shift+mask (the banded
    equi-join's key). Explode of a literal-struct array: zero shuffle,
    zero state, n_bands× rows of key-only width."""
    per_word = BINARY_WORD_BITS // band_bits
    mask = (1 << band_bits) - 1
    entries = []
    for b in range(n_bands):
        w, slot = divmod(b, per_word)
        val = F.shiftright(
            F.col(f"{word_prefix}{w}"), slot * band_bits
        ).bitwiseAND(F.lit(mask))
        entries.append(
            F.struct(
                F.lit(b).alias("i"), val.cast("long").alias("v")
            )
        )
    cols = list(df.columns)
    return df.select(
        *cols, F.explode(F.array(*entries)).alias("__band")
    ).select(
        *cols,
        F.col("__band.i").alias("__bidx"),
        F.col("__band.v").alias("__bval"),
    )


def _resolve_band_bits(
    dim: int, radius: int | None, band_bits: int | None
) -> int:
    """Pick (or validate) the band width — the one band-width rule. A
    width must divide both ``dim`` and the packed word. Given a
    ``radius``, the width must also make the pigeonhole guarantee cover
    it: a code within ``r`` flipped bits of the query shares at least
    one exact band whenever ``r < n_bands = dim / band_bits``; ``None``
    selects the COARSEST width that still guarantees (fewest exploded
    rows), and an explicit width that does not guarantee raises rather
    than silently returning partial pairs. ``radius=None`` checks the
    divisibility only (the band index is built before any radius is
    known; the banded top-k stays exact at any valid width through its
    verified fallback)."""
    candidates = [b for b in (32, 16, 8, 4, 2, 1) if b <= BINARY_WORD_BITS]
    if band_bits is None:
        for b in candidates:
            if dim % b == 0 and dim // b > radius:
                return b
        raise ValueError(
            f"binary banding cannot guarantee radius {radius} at dim={dim} "
            "(radius >= dim//1 bands) — use the exhaustive scan"
        )
    if dim % band_bits != 0 or band_bits not in candidates:
        raise ValueError(
            f"band_bits={band_bits} must divide both dim={dim} and the "
            f"{BINARY_WORD_BITS}-bit packed word"
        )
    if radius is not None and dim // band_bits <= radius:
        raise ValueError(
            f"band_bits={band_bits} gives {dim // band_bits} bands — the "
            f"pigeonhole guarantee needs more than radius={radius} bands; "
            "use finer bands or the exhaustive scan"
        )
    return band_bits


def _banded_candidates(
    cb: DataFrame,
    qb: DataFrame,
    n_words: int,
    n_bands: int,
    band_bits: int,
    id_col: str,
    query_id_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Query→corpus candidate pairs via the banded equi-join: (query_id,
    id, hamming), each matched pair ONCE. The corpus side explodes to
    key-only (id, words, band) rows; the query side (broadcast-small by
    contract) explodes and BROADCASTS, so the join is map-side against
    the corpus scan — no corpus shuffle. A pair that matches in several
    bands yields identical rows; ``distinct`` collapses them (the one
    shuffle, carrying matched pairs only — the quantity the banded
    index exists to shrink)."""
    ce = _explode_bands(cb, n_bands, band_bits, "w")
    qe = _explode_bands(qb, n_bands, band_bits, "__q").select(
        query_id_col,
        *[f"__q{w}" for w in range(n_words)],
        F.col("__bidx").alias("__qbidx"),
        F.col("__bval").alias("__qbval"),
    )
    joined = ce.join(
        F.broadcast(qe),
        (F.col("__bidx") == F.col("__qbidx"))
        & (F.col("__bval") == F.col("__qbval")),
    )
    if exclude_self:
        joined = joined.filter(F.col(query_id_col) != F.col(id_col))
    return joined.select(
        query_id_col, id_col, _hamming_expr(n_words).alias("hamming")
    ).distinct()


def _hamming_scan_topm(
    cb: DataFrame,
    qb: DataFrame,
    m: int,
    n_words: int,
    id_col: str,
    query_id_col: str,
    exclude_self: bool,
) -> DataFrame:
    """The exhaustive Hamming pass of the scan index and of the banded
    index's verified fallback: broadcast query words ``qb`` × corpus
    words ``cb``, XOR + bit_count map-side, each query's top ``m`` by
    (hamming, id) — (query_id, id, hamming)."""
    scored = (
        cb.crossJoin(F.broadcast(qb))
        .filter(
            F.col(query_id_col) != F.col(id_col) if exclude_self else F.lit(True)
        )
        .select(query_id_col, id_col, _hamming_expr(n_words).alias("hamming"))
    )
    return top_k_per_group(
        scored, [query_id_col], "hamming", m,
        descending=False, tiebreak=[id_col],
    )


def binary_hamming_radius_pairs(
    df: DataFrame,
    radius: int,
    codec: Codec | None = None,
    band_bits: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ALL corpus pairs within Hamming radius ``radius`` of each other
    over the packed codes of the binary ``codec`` (untrained: trains on
    ``df``), found by the multi-index banded self-join — COMPLETE by
    the pigeonhole principle: two codes differing in ``r ≤ n_bands − 1``
    bits cannot flip a bit in every one of the ``n_bands`` disjoint
    bands, so they share a band exactly and the banded equi-join
    surfaces the pair (:func:`~..dedup.simhash` banding's discipline,
    replacing the N² code cross at scale).

    Scale shape: each code explodes into ``n_bands`` key-only (band_idx,
    band_val, words) rows, ONE equi-join shuffle keyed on the band, the
    exact Hamming filter map-side on the joined words, and ``distinct``
    collapses multi-band matches. ``band_bits`` resolves through
    :func:`_resolve_band_bits` (coarsest width that covers ``radius``;
    an explicit width that cannot guarantee raises rather than return
    partial pairs). The radius census (bench_binary_r11.json in git history)
    pairs candidate counts against the N² cross at sf1.

    Output: (id_a, id_b, hamming) with ``id_a < id_b``,
    ``hamming <= radius``."""
    dim = (codec or Codec("binary")).dim
    bb = _resolve_band_bits(dim, radius, band_bits)
    codec = _binary_codec(codec, df, vec_col)
    cb = ensure_parallelism(_packed_words(df, vec_col, [id_col], codec))
    ce = _explode_bands(cb, dim // bb, bb, "w")
    a = ce.select(F.col(id_col).alias("id_a"), *codec.columns, "__bidx", "__bval")
    b = ce.select(
        F.col(id_col).alias("id_b"),
        *[F.col(w).alias(f"__b{w[1:]}") for w in codec.columns],
        F.col("__bidx").alias("__bbidx"),
        F.col("__bval").alias("__bbval"),
    )
    return (
        a.join(
            b,
            (F.col("__bidx") == F.col("__bbidx"))
            & (F.col("__bval") == F.col("__bbval"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select(
            "id_a", "id_b",
            _hamming_expr(len(codec.columns), "__b").alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
        .distinct()
    )


def binary_dedup_survivors(
    df: DataFrame,
    radius: int = 3,
    codec: Codec | None = None,
    band_bits: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-duplicate DEDUP over the 1-bit codes of the binary
    ``codec`` (untrained: trains on ``df``): the LARGER id of every code
    pair within Hamming ``radius`` drops — :func:`semdedup`'s survivor
    rule applied to the compressed modality, the cheap first-line
    semantic dedup of a training corpus: 24 B codes through ONE banded
    equi-join (:func:`binary_hamming_radius_pairs` — complete by
    pigeonhole) and an anti-join, where SemDeDup moves full floats.

    The pair stream has ``id_a < id_b``, so the minimum id of every
    duplicate group survives and transitive chains collapse toward it in
    one pass, like ``semdedup``'s per-cell rule — deterministic, and
    restated verbatim by the gate oracle
    (``embedding_binary_dedup_survivors``). Output: (id_col) survivors
    among :func:`_valid_vectors` — key-only."""
    codec = _binary_codec(codec, df, vec_col)
    pairs = binary_hamming_radius_pairs(
        df, radius, codec, band_bits, vec_col, id_col
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        _valid_vectors(df, vec_col, codec.dim)
        .select(id_col)
        .join(drops, id_col, "left_anti")
    )


def write_binary_band_index(
    df: DataFrame,
    path: str,
    codec: Codec | None = None,
    band_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Persist the STANDING binary band index: every corpus code
    exploded to its ``dim/band_bits`` (band_idx, band_val) rows —
    (id, w0.., band_idx, band_val) PARTITIONED BY (band_idx, band_val),
    one directory per band bucket (:func:`_write_index`) — with the
    binary ``codec`` (untrained: trains on ``df``) in the IVF index's
    ``_thresholds`` sidecar and the band width in ``_layout``. The
    admission counterpart of :func:`write_ivf_index`: quantization and
    band explosion are amortized to build time, and the bucket
    directories turn a batch's banded probe into DYNAMIC PARTITION
    PRUNING — admission reads only the ≤ |batch| × n_bands buckets the
    batch's codes hash into (256 directories in all at the default
    4-bit bands; the admission regime is fine bands, small radii).

    ``mode="append"`` lands an admitted batch's band rows inside the
    existing bucket directories, quantized with the STORED codec
    (:func:`_standing_codec`, shared with :func:`write_ivf_index`); a
    band width or ``dim`` other than the stored layout's raises too,
    before the first byte is written."""
    spark = df.sparkSession
    if mode == "append":
        given = codec or Codec("binary")
        codec = _standing_codec(spark, path, given, "write_binary_band_index")
        stored_bb = _band_bits(spark, path)
        if (band_bits, given.dim) != (stored_bb, codec.dim):
            raise ValueError(
                f"write_binary_band_index(mode='append'): layout "
                f"(band_bits={band_bits}, dim={given.dim}) differs from the "
                f"stored ({stored_bb}, {codec.dim})"
            )
    codec = codec or Codec("binary")
    _resolve_band_bits(codec.dim, None, band_bits)
    codec = _binary_codec(codec, df, vec_col)
    cb = ensure_parallelism(_packed_words(df, vec_col, [id_col], codec))
    rows = _explode_bands(cb, codec.dim // band_bits, band_bits, "w").select(
        id_col,
        *codec.columns,
        F.col("__bidx").alias("band_idx"),
        F.col("__bval").alias("band_val"),
    )
    layout = [("_layout", local_df(spark, [(band_bits,)], "band_bits int"))]
    _write_index(rows, path, mode, codec, ["band_idx", "band_val"], layout)


def _band_bits(spark, path: str) -> int:
    """The band width stored in a band index's ``_layout`` sidecar."""
    return int(spark.read.parquet(f"{path}/_layout").first()["band_bits"])


def read_binary_band_index(spark, path: str) -> tuple[DataFrame, Codec, int]:
    """Read a :func:`write_binary_band_index` layout back as
    ``(band_rows, codec, band_bits)``. The partition columns are re-cast
    to their written types (band_idx INT, band_val BIGINT —
    directory-name inference would alter them, the
    :func:`read_ivf_index` discipline); the codec is the stored build
    codebook (:func:`_read_codec`) every admission batch must quantize
    against. The frame carries its (band_bits, dim) layout as
    ``band_idx`` column METADATA, so :func:`binary_incremental_admitted`
    can reject a mismatched width instead of silently joining
    misaligned band keys."""
    bb = _band_bits(spark, path)
    codec = _read_codec(spark, path)
    df = (
        spark.read.parquet(path)
        .withColumn("band_idx", F.col("band_idx").cast("int"))
        .withColumn("band_val", F.col("band_val").cast("bigint"))
        .withMetadata("band_idx", {"band_bits": bb, "dim": codec.dim})
    )
    return df, codec, bb


def binary_incremental_admitted(
    index: DataFrame,
    new: DataFrame,
    codec: Codec,
    radius: int = 3,
    band_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Admission dedup for an INCREMENTAL batch against a STANDING
    binary band index: which ``new`` vectors survive, where a new vector
    drops iff ANY partner with a smaller id sits within Hamming
    ``radius`` — an indexed corpus code (ID CONTRACT: every indexed id
    precedes every batch id) or an earlier batch code. That makes
    admission EQUAL to re-running :func:`binary_dedup_survivors` on
    corpus ∪ batch and keeping the batch rows (unit-pinned and
    gate-hashed): the drop rule is non-iterative, so a batch id's fate
    depends only on smaller ids — all indexed or in the batch.
    ``codec`` is the index's stored codec (:func:`read_binary_band_index`),
    never one trained on the batch.

    Scale shape — per-batch cost ∝ |batch|, NEVER |corpus|: the batch
    quantizes against the STORED thresholds, explodes to ≤ |batch| ×
    n_bands key-only band rows, and BROADCASTS into an equi-join on the
    index's (band_idx, band_val) PARTITION columns — dynamic partition
    pruning narrows the standing scan to the batch's own band buckets
    (plan-asserted). Batch-internal pairs come from the in-memory banded
    self-join (:func:`binary_hamming_radius_pairs` at the index's
    width). Completeness by pigeonhole requires the width to guarantee
    ``radius`` (:func:`_resolve_band_bits`); the admitted set is exact.

    Returns the surviving batch ids (one column, ``id_col``)."""
    codec.check_trained()
    codec = _binary_codec(codec, new, vec_col)
    dim = codec.dim
    bb = _resolve_band_bits(dim, radius, band_bits)
    meta = index.schema["band_idx"].metadata if "band_idx" in index.columns else {}
    if meta.get("band_bits") is not None and (
        int(meta["band_bits"]) != bb or int(meta.get("dim", dim)) != dim
    ):
        # a pigeonhole-VALID width that doesn't match the standing
        # layout would explode the batch into band keys that never
        # align with the index's buckets — near-duplicates would be
        # silently ADMITTED. read_binary_band_index stamps the layout
        # into the column metadata checked here.
        raise ValueError(
            f"binary_incremental_admitted: requested layout (band_bits="
            f"{bb}, dim={dim}) does not match the standing index's "
            f"({meta['band_bits']}, {meta.get('dim')})"
        )
    nb = _packed_words(new, vec_col, [id_col], codec)
    probe = _explode_bands(nb, dim // bb, bb, "w").select(
        F.col(id_col).alias("__new_id"),
        *[F.col(w).alias(f"__n{w[1:]}") for w in codec.columns],
        F.col("__bidx").alias("band_idx"),
        F.col("__bval").alias("band_val"),
    )
    # no distinct() on either rejection stream (or their union): the
    # left_anti join is insensitive to duplicate keys on its right
    # side, and each dedup was a full extra exchange
    rej_corpus = (
        index.join(F.broadcast(probe), ["band_idx", "band_val"])
        .filter(_hamming_expr(len(codec.columns), "__n") <= radius)
        .select(F.col("__new_id").alias(id_col))
    )
    rej_batch = binary_hamming_radius_pairs(
        new, radius, codec, bb, vec_col, id_col
    ).select(F.col("id_b").alias(id_col))
    return (
        _valid_vectors(new, vec_col, dim)
        .select(id_col)
        .join(rej_corpus.unionByName(rej_batch), id_col, "left_anti")
    )


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank_k: int | None = None,
    codec: Codec | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    index: str = "scan",
    band_bits: int = BINARY_BAND_BITS,
) -> DataFrame:
    """Two-stage binary ANN: Hamming distance over the packed bits of
    the binary ``codec`` (untrained, the default: corpus
    :func:`dimension_means` thresholds; queries use the CORPUS
    thresholds — one codebook) ranks the corpus per query (ascending,
    id tiebreak); with ``rerank_k`` set, the top ``rerank_k`` survivors
    re-rank by EXACT decimal cosine to the final ``k``. Output:
    (query_id_col, id_col, cosine) with ``rerank_k``, else
    (query_id_col, id_col, hamming); ``rerank_k >= |corpus|``
    degenerates to exact brute-force cosine top-k (unit-pinned).

    Scale shape: the first pass reads the corpus WORDS ONLY (8 B/vector
    at dim=64 — never the float payload), XOR + bit_count map-side, one
    top-k shuffle of (query, id, hamming) triples. The re-rank joins the
    ≤ nq·rerank_k candidate ids back to the corpus through a BROADCAST
    of the candidate side, so full-width vectors are never shuffled.

    ``index`` selects the first pass. ``"scan"`` (default) is the
    compressed linear scan — a broadcast cross of the query words over
    the corpus words, the right plan when shortlists are a sizable
    corpus fraction. ``"banded"`` takes candidates from the banded
    equi-join (:func:`binary_hamming_radius_pairs`'s discipline) and
    keeps EXACTNESS by a per-query verified fallback: a query's banded
    top-``m`` provably equals the exhaustive top-``m`` iff it has ≥
    ``m`` banded candidates at Hamming ≤ ``n_bands − 1`` (every code
    inside the pigeonhole radius IS in the banded set); queries failing
    that check re-scan exhaustively, IN-PLAN (a per-query aggregate over
    the candidate stream — no driver branching). Both settings return
    IDENTICAL rows; the banded one earns its keep in the near-duplicate
    regime (d ≤ 3 at the default 4×16-bit banding), where the first pass
    touches band-bucket pairs instead of nq×N.

    Measured quality (bench_binary_r10.json in git history): at the sf0.01 gate
    fixture (shortlist = 10% of the 500-vector corpus) per-query
    recall@5 spans 0.2-1.0, mean 0.66; on the sf1 cluster-generated
    fixture 64 mean-threshold bits saturate recall at 1.0 even without
    the re-rank."""
    if index not in ("scan", "banded"):
        raise ValueError(f"unknown binary index: {index!r}")
    if index == "banded":
        # no guarantee check: the verified per-query fallback keeps the
        # result exact at ANY valid width
        band_bits = _resolve_band_bits(
            (codec or Codec("binary")).dim, None, band_bits
        )
    codec = _binary_codec(codec, corpus, vec_col)
    # parallelism is ensured on the PACKED words, not the raw corpus:
    # repartitioning full-width vectors would shuffle the exact payload
    # this operator exists to avoid (the packing itself is a trivial
    # projection that runs fine at scan parallelism; the per-pair
    # Hamming work downstream is what needs the spread). Plan-asserted:
    # no plain Exchange in this plan ever carries the vector column.
    cb = ensure_parallelism(_packed_words(corpus, vec_col, [id_col], codec))
    n_words = len(codec.columns)
    qb = _query_words(queries, codec, id_col, vec_col, query_id_col)
    m = rerank_k or k
    if index == "banded":
        n_bands = codec.dim // band_bits
        cands = _banded_candidates(
            cb, qb, n_words, n_bands, band_bits,
            id_col, query_id_col, exclude_self,
        )
        banded_topm = top_k_per_group(
            cands, [query_id_col], "hamming", m,
            descending=False, tiebreak=[id_col],
        )
        # verified per-query guarantee: the banded top-m is exact iff
        # ≥ m candidates sit at hamming ≤ n_bands-1 (see docstring);
        # the flag frame is nq rows — broadcast both ways
        flags = (
            qb.select(query_id_col)
            .join(
                cands.filter(F.col("hamming") <= n_bands - 1)
                .groupBy(query_id_col)
                .agg(F.count(F.lit(1)).alias("__ngood")),
                query_id_col,
                "left",
            )
            .select(
                query_id_col,
                (F.coalesce(F.col("__ngood"), F.lit(0)) >= m).alias("__ok"),
            )
        )
        banded_part = banded_topm.join(
            F.broadcast(flags.filter(F.col("__ok")).select(query_id_col)),
            query_id_col,
        )
        fb_qb = qb.join(
            F.broadcast(flags.filter(~F.col("__ok")).select(query_id_col)),
            query_id_col,
        )
        fb_topm = _hamming_scan_topm(
            cb, fb_qb, m, n_words, id_col, query_id_col, exclude_self
        )
        first = banded_part.select(
            query_id_col, id_col, "hamming"
        ).unionByName(fb_topm.select(query_id_col, id_col, "hamming"))
    else:
        first = _hamming_scan_topm(
            cb, qb, m, n_words, id_col, query_id_col, exclude_self
        )
    if rerank_k is None:
        return first
    return _exact_rerank(
        with_norm(corpus.select(id_col, vec_col), vec_col),
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
        ),
        first.select(query_id_col, id_col), k, "cosine",
        id_col, vec_col, query_id_col,
    )


# --- product quantization (PQ) ---------------------------------------------


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact Euclidean top-k (ascending distance): the ground truth for
    PQ/ADC recall. ||q−x||² = |q|² + |x|² − 2·q·x reuses the precomputed
    norms and the decimal-exact dot — identical IEEE arithmetic to the
    oracle's restatement, and still map-side over the broadcast queries."""
    return _exact_topk(
        corpus, queries, k, "d2", id_col, vec_col, query_id_col, exclude_self
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, int, list[float]]]:
    """Per-subspace codebooks for product quantization: the vector space is
    split into ``m`` contiguous subspaces of dim/m dimensions; each
    subspace's codebook is the sub-vectors of the first ``k`` corpus
    vectors by id (the same deterministic sampling init as IVF — a
    :func:`kmeans_refine`-per-subspace upgrade slots in unchanged). Code
    ids are the source vec_ids, keeping the oracle restatement a plain
    ``vec_id < k`` filter. Returns [(subspace, code_id, sub_vector)],
    driver-side (m×k×(dim/m) floats — trivially broadcastable)."""
    sub = dim // m
    rows = (
        corpus.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    )
    books: list[tuple[int, int, list[float]]] = []
    for s in range(m):
        for r in sorted(rows, key=lambda r: r[id_col]):
            vals = [float(x) for x in r[vec_col]][s * sub : (s + 1) * sub]
            books.append((s, int(r[id_col]), vals))
    return books


#: rows (first by id) :func:`opq_rotation` trains on
OPQ_SAMPLE = 2048


def opq_rotation(
    corpus: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list[float]]:
    """Parametric OPQ rotation (Ge et al., *Optimized Product
    Quantization*, CVPR 2014 — the OPQ-P closed form): an orthogonal
    ``R`` that PQ applies BEFORE the contiguous subspace split, chosen
    so the variance the codebooks must explain is BALANCED across
    subspaces. Natural chunking hands subspace ``s`` whatever happens
    to live in dims ``[s·dim/m, (s+1)·dim/m)``; on anisotropic data
    (every real embedding model — and any residual distribution whose
    energy concentrates in a few directions) one subspace then absorbs
    most of the energy while the rest spend their ``log2(n_codes)``
    bits describing noise. OPQ-P decorrelates first (PCA), then
    assigns principal directions to subspaces by EIGENVALUE ALLOCATION
    — greedily, each next-largest eigenvalue to the subspace with the
    smallest log-eigenvalue product — equalizing per-subspace variance
    products, the paper's minimizer of quantization distortion under
    the independence assumption.

    Training is a driver-bounded sample (the first ``OPQ_SAMPLE`` rows
    by id — the :func:`pq_codebooks` sampling discipline; covariance
    needs O(sample·dim²) flops and dim² doubles, both driver-trivial at
    any corpus scale because the sample is FIXED). Deterministic: the
    sample is id-ordered, `numpy.linalg.eigh` is deterministic on a
    host, and each eigenvector's sign is normalized (largest-|component|
    positive) so near-tie orderings cannot flip signs between runs.

    Returns ``R`` as dim rows × dim cols (row i = the direction whose
    projection lands in output dim i, rows grouped by subspace) —
    apply with :func:`apply_rotation`, train codebooks on the rotated
    vectors, and because ``R`` is orthogonal every squared-L2 the ADC
    chain approximates is preserved exactly: rotating corpus AND
    queries changes no exact distance, only how the code bits are
    spent. Composes with residual coding by rotating the residual
    frame (R(x − μ) = Rx − Rμ): rotate everything once at ingest and
    the whole IVFADC stack runs unchanged."""
    import math

    import numpy as np

    rows = corpus.orderBy(id_col).limit(OPQ_SAMPLE).select(vec_col).collect()
    x = np.array(
        [[float(v) for v in r[vec_col]] for r in rows], dtype=np.float64
    )
    if x.shape[0] < 2 or x.shape[1] != dim:
        raise ValueError(
            f"opq_rotation: need >= 2 sample vectors of dim {dim}, got "
            f"shape {x.shape}"
        )
    x = x - x.mean(axis=0)
    cov = x.T @ x / (x.shape[0] - 1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]  # eigenvalues descending
    w, v = w[order], v[:, order]
    for j in range(dim):  # sign convention: largest-|component| positive
        p = int(np.argmax(np.abs(v[:, j])))
        if v[p, j] < 0:
            v[:, j] = -v[:, j]
    # eigenvalue allocation: largest first, each to the open subspace
    # with the smallest running log-product (the paper's balancing
    # heuristic; log keeps the products comparable without overflow).
    # The logs are SHIFTED positive first: every subspace ends with
    # exactly dim/m eigenvalues, so a per-item constant cancels out of
    # the final product comparison — but it is load-bearing for the
    # greedy itself, because with raw logs an eigenvalue < 1 makes the
    # bucket it joins MORE attractive (its log-product shrinks) and the
    # whole spectrum collapses into one subspace, the exact imbalance
    # the allocation exists to prevent.
    sub = dim // m
    tiny = 1e-12
    logs_j = [math.log(max(float(lv), tiny)) for lv in w]
    lo, hi = min(logs_j), max(logs_j)
    delta = (hi - lo) / dim + tiny  # strictly positive per-item weight
    weights = [lj - lo + delta for lj in logs_j]
    buckets: list[list[int]] = [[] for _ in range(m)]
    totals = [0.0] * m
    for j in range(dim):
        open_b = [b for b in range(m) if len(buckets[b]) < sub]
        b = min(open_b, key=lambda b: (totals[b], b))
        buckets[b].append(j)
        totals[b] += weights[j]
    perm = [j for b in range(m) for j in buckets[b]]
    r_mat = v[:, perm].T  # row i of R = allocated direction i
    return [[float(c) for c in row] for row in r_mat]


def apply_rotation(
    df: DataFrame,
    rotation: list[list[float]],
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """y = R·x per row, map-side: the dim×dim matrix rides a ONE-ROW
    broadcast frame (never plan literals — dim² floats would bloat the
    plan at any real dim) and each output
    component is one zip_with/aggregate dot product — no shuffle, no
    Python, whole-stage-codegen-resident like every hot-path projection
    in this module. Overwrites ``vec_col`` unless ``out_col`` names a
    new column. Components widen to double before the multiply (the
    residual-subtract precision discipline)."""
    out_col = out_col or vec_col
    mdf = local_df(
        df.sparkSession,
        [([[float(c) for c in row] for row in rotation],)],
        "__rot array<array<double>>",
    )
    return (
        df.crossJoin(F.broadcast(mdf))
        .withColumn(
            out_col,
            F.transform(
                F.col("__rot"),
                lambda row: F.aggregate(
                    F.zip_with(
                        row,
                        F.col(vec_col),
                        lambda a, b: a * b.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ),
            ),
        )
        .drop("__rot")
    )


#: unroll ceiling for :func:`_pq_sqdist`'s static-width fast path — past
#: this many elements the per-expression plan growth stops paying for
#: itself and the HOF form stays
_PQ_SQDIST_UNROLL_MAX = 32


def _pq_sqdist(seg: Column, code_vec: Column, sub: int | None = None) -> Column:
    """Decimal-accumulated squared L2 between a subspace slice and a
    codeword vector — exact and order-free, so SQL SUM() over the same
    terms is bit-identical.

    ``sub`` (the statically-known subspace width) unrolls the
    accumulation into a flat ``F.get`` chain: ``zip_with`` +
    ``aggregate`` are CodegenFallback expressions evaluated interpreted
    per row with a per-row array allocation, while the unrolled chain is
    ordinary codegen-resident arithmetic — measured 2.77 s → 2.09 s on
    the floor-dial encode fan-out (8.2M scored rows), 0 value
    mismatches (the chain performs the exact same per-step decimal
    casts in the same order). ``None`` (or a width past the unroll
    ceiling) keeps the HOF form — identical values either way."""
    if sub is not None and 0 < sub <= _PQ_SQDIST_UNROLL_MAX:
        # F.get (not element_at): NULL past the end like zip_with's
        # null-padding — element_at would RAISE under ANSI on a ragged
        # slice where the HOF form nulls the sum
        acc = F.lit(0).cast(DEC)
        for j in range(sub):
            x = F.get(seg, j).cast("double")
            y = F.get(code_vec, j)
            term = (x - y) * (x - y)
            acc = (acc + term.cast(DEC)).cast(DEC)
        return acc.cast("double")
    diffs = F.zip_with(
        seg,
        code_vec,
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    return _dec_sum(diffs)


def _pq_codebook_df(spark, codebooks) -> DataFrame:
    """The codebooks as a tiny DataFrame (__cb_s, __cb_code, __cb_cvec)
    — m×n_codes rows, broadcast into every encode and LUT join, so the
    plan carries ZERO codeword literals at any dial (a literal
    m×n_codes×(dim/m) plan hits Catalyst's plan-size ceiling at
    production dials — m=16, 256 codes, dim=1024 → 262k literals — and
    its struct sort falls out of whole-stage codegen long before). Column
    names are prefixed so the join never collides with corpus columns.
    Born in ONE slice (:func:`local_df`): every job that builds this
    broadcast otherwise pays one Python-worker round-trip per default
    slice, a measured ~0.3 s/job constant at 32 cores."""
    return local_df(
        spark,
        [
            (int(s), int(code), [float(v) for v in vals])
            for (s, code, vals) in codebooks
        ],
        "__cb_s int, __cb_code int, __cb_cvec array<double>",
    )


def _pq_segments(
    frame: DataFrame,
    vec_col: str,
    head: list[str],
    m: int,
    sub: int,
    payload: list[str] | None = None,
) -> DataFrame:
    """Map-side explode of each vector into its m subspace slices:
    (head..., __s, __seg) — the probe side of the broadcast codebook
    join. ``payload`` columns ride ONE extra row per vector (``__s`` =
    −1, struct column ``__p``; NULL on the slice rows), so they never
    multiply into the m×n_codes fan-out."""
    p_null = (
        [F.when(F.lit(False), F.struct(*payload)).alias("p")] if payload else []
    )
    entries = [
        F.struct(
            F.lit(s).alias("s"),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias("seg"),
            *p_null,
        )
        for s in range(m)
    ]
    if payload:
        entries.append(
            F.struct(
                F.lit(-1).alias("s"),
                F.when(F.lit(False), F.slice(F.col(vec_col), 1, sub)).alias("seg"),
                F.struct(*payload).alias("p"),
            )
        )
    return frame.select(*head, F.explode(F.array(*entries)).alias("__x")).select(
        *head,
        F.col("__x.s").alias("__s"),
        F.col("__x.seg").alias("__seg"),
        *([F.col("__x.p").alias("__p")] if payload else []),
    )


def _pq_lut(
    q: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    m: int,
    dim: int,
    query_id_col: str,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Per-query ADC lookup table (query_id, *extra_keys, s, code,
    dist) — exact subspace distances from the query vector (column
    ``__qvec``) to every codeword: slices ⋈ broadcast(codebook df).
    ``extra_keys`` rides additional head columns through (the residual
    IVFADC path feeds one ``__qvec`` PER PROBED CELL and keys the LUT by
    (query_id, cent_id))."""
    sub = dim // m
    keys = extra_keys or []
    segs = _pq_segments(q, "__qvec", [query_id_col, *keys], m, sub)
    return segs.join(
        F.broadcast(_pq_codebook_df(q.sparkSession, codebooks)),
        F.col("__s") == F.col("__cb_s"),
    ).select(
        query_id_col,
        *keys,
        F.col("__s").alias("s"),
        F.col("__cb_code").alias("code"),
        _pq_sqdist(F.col("__seg"), F.col("__cb_cvec"), sub=sub).alias("dist"),
    )


def _cell_mean_centroids(assigned: DataFrame, vec_col: str) -> DataFrame:
    """Lloyd means of the standing cell assignment — (cent_id, cvec),
    the residual REFERENCE POINTS for IVFADC residual coding. The
    paper's coarse quantizer is k-means, whose centroids ARE cell
    means; this engine's IVF convention seeds cells from corpus
    vectors and assigns by cosine, so the mean must be computed, not
    assumed: the r14 census measured residuals against the SEED
    vectors at 1.55× the centered corpus energy (unit-norm seeds on
    near-orthogonal data — subtraction ADDS energy) vs 0.94× against
    the cell means (≤ 1 by construction: the mean minimizes the
    within-cell sum of squares for any fixed partition). Means follow
    the engine-portable decimal contract (:func:`_decimal_mean_vectors`
    — exact DECIMAL(28,12) component sums, one IEEE division), so the
    oracle restates them bit-exactly. Cells with no members yield no
    mean — harmless, they hold no candidates either."""
    exploded = assigned.select(
        F.col("cent_id").alias("__k"),
        F.posexplode(F.col(vec_col)).alias("__dim", "__v"),
    )
    return _decimal_mean_vectors(exploded).select(
        F.col("__k").alias("cent_id"), "cvec"
    )


def _materialize_cell_means(assigned: DataFrame, vec_col: str) -> DataFrame:
    """:func:`_cell_mean_centroids` collected ONCE and rebuilt as a
    small local frame (nlist × dim doubles — the same driver
    round-trip :func:`pq_codebooks` performs). The means feed multiple
    consumers (corpus residuals, query residuals, the ``_cell_means``
    sidecar write); left as a live aggregation subtree each consumer
    re-runs the full corpus mean pass — at 100 TB redundant full-table
    scans for a table that fits in kilobytes. Python floats round-trip
    IEEE doubles exactly, so the rebuilt values are bit-identical to
    the aggregation's output (the oracle contract holds). At
    beyond-broadcast nlist (cell-capped sizing) prefer the persisted
    path, whose means live in the ``_cell_means`` sidecar."""
    rows = _cell_mean_centroids(assigned, vec_col).collect()
    return local_df(
        assigned.sparkSession,
        [(int(r["cent_id"]), [float(v) for v in r["cvec"]]) for r in rows],
        "cent_id bigint, cvec array<double>",
    )


def _materialize_means_and_residual_books(
    assigned: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    n_codes: int,
    dim: int,
) -> tuple[DataFrame, list[tuple[int, int, list[float]]]]:
    """Cell means AND residual codebook init in ONE collect job (r15).

    The residual IVFADC build needs two driver materializations that
    each cost a full corpus pass: the Lloyd cell means
    (:func:`_cell_mean_centroids`) and the sampling-init codebooks over
    the RESIDUAL corpus (:func:`pq_codebooks` on x − mean(cell(x)) —
    whose ``orderBy(id).limit(k)`` scans the corpus through the
    residual join again). Fused: one job collects the means UNION the
    first ``n_codes`` assigned rows (id, vec, cent_id), and the sample
    residuals are computed DRIVER-SIDE — Python float subtraction IS
    the IEEE double subtract ``_ivf_residuals`` performs (both operands
    widen float32→double first), so the init codewords are
    bit-identical to the distributed form. One corpus pass and one job
    instead of two of each.

    Returns ``(mean_df, books)`` — the :func:`_materialize_cell_means`
    frame and the :func:`pq_codebooks`-format init list."""
    spark = assigned.sparkSession
    # the fused collect keys rows by a long cast of id/cent_id; a column
    # whose cast is not exact would silently NULL or truncate (and corrupt
    # the init-code ids) where pq_codebooks kept the raw value — accept
    # integers and decimal(p≤18, 0), reject the rest with a clear error
    for col_name in (id_col, "cent_id"):
        t = assigned.schema[col_name].dataType
        if not (
            isinstance(t, T.IntegralType)
            or (isinstance(t, T.DecimalType) and t.scale == 0 and t.precision <= 18)
        ):
            raise ValueError(
                f"residual codebook init requires an integral {col_name!r} "
                f"column (got {t.simpleString()}): the fused means+sample "
                "collect keys rows by a long cast, which would silently "
                "NULL or truncate other ids"
            )
    tagged_means = _cell_mean_centroids(assigned, vec_col).select(
        F.lit(0).alias("__tag"),
        F.col("cent_id").cast("long").alias("__key"),
        F.col("cvec").alias("__vec"),
    )
    tagged_sample = (
        assigned.orderBy(id_col)
        .limit(n_codes)
        .select(
            F.lit(1).alias("__tag"),
            F.col(id_col).cast("long").alias("__key"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double")
            ).alias("__vec"),
            F.col("cent_id").cast("long").alias("__cell"),
        )
    )
    rows = tagged_means.select(
        "__tag", "__key", "__vec", F.lit(None).cast("long").alias("__cell")
    ).unionByName(tagged_sample).collect()
    means = {
        int(r["__key"]): [float(v) for v in r["__vec"]]
        for r in rows
        if r["__tag"] == 0
    }
    mean_df = local_df(
        spark,
        [(k, v) for k, v in sorted(means.items())],
        "cent_id bigint, cvec array<double>",
    )
    sample = sorted(
        (r for r in rows if r["__tag"] == 1), key=lambda r: r["__key"]
    )
    sub = dim // m
    books: list[tuple[int, int, list[float]]] = []
    for s in range(m):
        for r in sample:
            mean = means[int(r["__cell"])]
            resid = [
                float(x) - mean[i] for i, x in enumerate(r["__vec"])
            ]
            books.append((s, int(r["__key"]), resid[s * sub : (s + 1) * sub]))
    return mean_df, books


def _ivf_residuals(
    assigned: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    out_col: str = "__rvec",
) -> DataFrame:
    """x − c(x): subtract each row's reference centroid from its vector
    — the IVFADC residual (Jégou et al.: the fine quantizer encodes
    the residual, not the raw vector, so the m·log2(k)-bit codes spend
    their resolution on the WITHIN-CELL spread the coarse quantizer
    cannot discriminate). ``centroids`` carries the reference points —
    :func:`_cell_mean_centroids` for residual coding (see there for why
    the seed vectors are the WRONG reference on this engine's
    cosine-seeded cells).

    Map-side: the centroid table broadcasts (it already fits — the
    coarse books are driver-bounded by construction) and the subtract
    is one zip_with projection. Both operands widen float32→double
    BEFORE the subtract, so the residual components are the exact IEEE
    doubles the oracle's ``v.v - c.v`` (over DOUBLE-cast views)
    computes — the cross-engine precision contract."""
    cents = centroids.select(
        F.col("cent_id").alias("__rc_id"), F.col("cvec").alias("__rc_vec")
    )
    return (
        assigned.join(
            F.broadcast(cents), F.col("cent_id") == F.col("__rc_id")
        )
        .withColumn(
            out_col,
            F.zip_with(
                F.col(vec_col),
                F.col("__rc_vec"),
                lambda a, b: a.cast("double") - b.cast("double"),
            ),
        )
        .drop("__rc_id", "__rc_vec")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    keep: list[str] | None = None,
) -> DataFrame:
    """PQ encoding — per subspace, the nearest codeword id (squared-L2
    argmin, ties by code id). A 64-dim float vector compresses to ``m``
    small ints — the 16× storage cut that makes 100 TB ANN serving
    tractable. Output: (id_col, code_0..code_{m-1}, *keep).

    Physical shape: slices ⋈ broadcast(codebook df) → per-row argmin as
    ONE partial aggregation. `F.min` over struct(dist, code) is
    partial-aggregable, so the exchange carries one row per input row,
    never the m×n_codes fan-out; tie order (dist asc, code asc) is the
    struct ordering. ``keep`` columns (the IVF index build carries
    vector, norm and cell) ride one payload row per vector into the same
    aggregation — never the fan-out — and a consumer that reads only
    the codes prunes them away again.

    REQUIRES unique ``id_col`` rows: the argmin groups by ``id_col``, so
    exact duplicate ids MERGE to one output row (every caller in this
    package feeds unique vector ids)."""
    sub = dim // m
    keep = keep or []
    cb = _pq_codebook_df(corpus.sparkSession, codebooks)
    segs = _pq_segments(corpus, vec_col, [id_col], m, sub, payload=keep)
    scored = segs.join(
        F.broadcast(cb),
        F.col("__s") == F.col("__cb_s"),
        "left" if keep else "inner",
    ).withColumn("__d", _pq_sqdist(F.col("__seg"), F.col("__cb_cvec"), sub=sub))
    agg = scored.groupBy(id_col).agg(
        *[
            F.min(
                F.when(
                    F.col("__s") == s,
                    F.struct(
                        F.col("__d").alias("dist"),
                        F.col("__cb_code").alias("code"),
                    ),
                )
            )["code"].alias(f"code_{s}")
            for s in range(m)
        ],
        *([F.first("__p", ignorenulls=True).alias("__p")] if keep else []),
    )
    return agg.select(
        id_col,
        *[f"code_{s}" for s in range(m)],
        *[F.col("__p")[c].alias(c) for c in keep],
    )


def pq_refine_codebooks(
    corpus: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 1,
) -> list[tuple[int, int, list[float]]]:
    """Lloyd-refine PQ codebooks per subspace (the upgrade
    :func:`pq_codebooks`'s sampling init needs): each iteration assigns
    every corpus sub-vector to its nearest codeword and replaces each
    codeword with the DECIMAL-exact mean of its members, the standard
    k-means update run independently in all ``m`` subspaces AT ONCE. A
    codeword with no members keeps its previous value (k-means'
    empty-cluster convention — deterministic, and the oracle restates it
    as a NOT-IN union).

    One distributed pass per iteration, no corpus shuffle of vectors:
    the argmin runs per (id, SUBSPACE) with SCALAR group keys and the
    subspace slice carried as the member payload, then posexplode(slice)
    feeds the decimal mean cells straight away — partial aggregation
    collapses every partition to ≤ m·k·(dim/m) = k·dim mean cells before
    the single exchange. (Grouping by the full vector array instead
    falls out of the codegen hash-aggregate fast path: measured 8.7 s vs
    4.8 s on the floor-dial fan-out.) Means follow the engine-portable
    contract (:func:`_decimal_mean_vectors`): exact DECIMAL(28,12)
    component sum → double → one IEEE division, bit-identical in the
    oracle's restatement. The collect is m·k·(dim/m) doubles.

    Returns codebooks in the :func:`pq_codebooks` format, so
    :func:`pq_encode` and :func:`build_ivf_index` consume them unchanged."""
    sub = dim // m
    books = codebooks
    for _ in range(iters):
        cb = _pq_codebook_df(corpus.sparkSession, books)
        segs = _pq_segments(
            ensure_parallelism(corpus), vec_col, [id_col], m, sub
        )
        scored = segs.join(
            F.broadcast(cb), F.col("__s") == F.col("__cb_s")
        ).withColumn(
            "__d", _pq_sqdist(F.col("__seg"), F.col("__cb_cvec"), sub=sub)
        )
        enc = scored.groupBy(id_col, "__s").agg(
            F.min(
                F.struct(
                    F.col("__d").alias("dist"),
                    F.col("__cb_code").alias("code"),
                )
            )["code"].alias("code"),
            # __seg is functionally determined by the group key —
            # every member row carries the identical slice
            F.first("__seg").alias("__seg"),
        )
        means = (
            enc.select(
                F.col("__s").alias("s"),
                "code",
                F.posexplode("__seg").alias("i", "v"),
            )
            .groupBy("s", "code", "i")
            .agg(
                (
                    F.sum(F.col("v").cast("double").cast("decimal(28,12)"))
                    .cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .collect()
        )
        refined: dict[tuple[int, int], list[float]] = {}
        for r in means:
            vals = refined.setdefault(
                (int(r["s"]), int(r["code"])), [0.0] * sub
            )
            vals[int(r["i"])] = float(r["m"])
        books = [
            (s, code, refined.get((s, code), old))
            for (s, code, old) in books
        ]
    return books


def _code_rows(codes: DataFrame, m: int, head: list[str]) -> DataFrame:
    """One (head..., s, code) row per subspace code of a pq-coded frame
    (``code_0..code_{m-1}``) — a map-side explode of a literal-struct
    array, key-only."""
    entries = [
        F.struct(F.lit(s).alias("s"), F.col(f"code_{s}").alias("code"))
        for s in range(m)
    ]
    return codes.select(*head, F.explode(F.array(*entries)).alias("__c")).select(
        *head, "__c.s", "__c.code"
    )


def pq_code_census(
    codes: DataFrame, m: int = 4, id_col: str = "vec_id"
) -> DataFrame:
    """Per-subspace code-utilization census over a :func:`pq_encode`
    output — the cheap observable for the dup-heavy PQ collapse
    (VERDICT r12 "What's wrong" #2): on near-duplicate corpora, Lloyd
    refinement pulls codewords to copy-block means, whole blocks
    collapse to ONE code per subspace, ADC ties across the block, and
    top-k membership inside a tie is id-arbitrary — recall craters
    (measured 0.04 → 0.008 on the r12 hard fixture,
    bench_pq_r12.json in git history) while every row-algebra hash stays green.

    Output, one row per subspace: ``(s, n_codes_used,
    top_code_share)`` — ``top_code_share`` is the fraction of the
    corpus in the subspace's most-populated codeword. A share near 1.0
    (or ``n_codes_used`` ≪ the codebook size) in any subspace means
    the codebook cannot discriminate within that subspace: route to
    the binary/Hamming family, or dedup the corpus
    (:func:`minhash_dedup` / :func:`binary_hamming_topk` + drop)
    BEFORE training PQ codebooks. Shape: one map-side explode to
    (s, code) key-only rows, partial-agg counts, two tiny exchanges
    (≤ m×n_codes rows) — safe to run on the full corpus at any
    scale."""
    counts = _code_rows(codes, m, []).groupBy("s", "code").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return (
        counts.groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_codes_used"),
            (
                F.max("__n").cast("double")
                / F.sum("__n").cast("double")
            ).alias("top_code_share"),
        )
        .orderBy("s")
    )


def negative_pairs(
    df: DataFrame,
    k: int = 4,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
    seed: str = "neg",
) -> DataFrame:
    """Deterministic pseudo-random negative sampling — ``k`` negatives per
    anchor for contrastive training (embedding / reranker data prep),
    WITHOUT a global index or a cross join: candidates are md5-bucketed,
    each (anchor, i) probes one pseudo-random bucket, and the winning
    negative is the argmin of a Kirsch–Mitzenmacher pair score
    (probe hash + candidate hash mod 2^60 — per-row md5s combined with
    two int ops, never a per-pair md5). Rebuild-stable (pure hash
    algebra, restated by the oracle) and shuffle-bounded: the probe
    join fans out to the bucket size; the default ``n_buckets =
    max(16, N // 256)`` keeps per-probe candidate work ~constant (~256
    ids) as the corpus grows — never O(N²). Pass ``n_buckets``
    explicitly to trade bucket size against per-anchor diversity.

    ``id_col`` must be an integer column in [0, 1e12): the argmin packs
    (score, neg_id) into one DECIMAL so the aggregate stays a plain
    hash-aggregable MIN.

    Output: (anchor, neg_idx, neg_id). Anchors whose probed bucket
    contains only themselves yield no row for that index (rare for
    n_buckets ≪ N; acceptable for negative sampling).
    """
    from pyspark.sql.types import NumericType

    from hbase_taggregator_spark.operators.dedup import _hash60
    from hbase_taggregator_spark.util import ensure_parallelism

    dt = df.schema[id_col].dataType
    if not isinstance(dt, NumericType):
        # a string id would make the lo/hi range check below a Python
        # TypeError and the packed-decimal argmin silently wrong
        raise TypeError(
            f"{id_col} must be a numeric column for packed argmin, got "
            f"{dt.simpleString()}"
        )
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
    ).first()
    if stats["n"] and (stats["lo"] < 0 or stats["hi"] >= 10**12):
        # the decimal argmin packs neg_id into 12 decimal digits; an out-
        # of-range id would silently round-trip as id mod 1e12
        raise ValueError(
            f"{id_col} must be in [0, 1e12) for packed argmin, got "
            f"[{stats['lo']}, {stats['hi']}]"
        )
    if n_buckets is None:
        # a FIXED bucket count makes per-probe work grow linearly with the
        # corpus (observed 17× wall on 10× data); tie it to corpus size so
        # bucket size — and per-anchor candidate work — stays ~256. Pure
        # integer formula, restatable by the SQL oracle; the stats lookup
        # above is one tiny column-stats job (same class as the k-means
        # centroid collect).
        n_buckets = max(16, stats["n"] // 256)
    sid = F.col(id_col).cast("string")
    # the candidate side streams through the bucket join and fans out to
    # the bucket size — from a single-file input that whole expansion
    # would run in ONE task
    cand = ensure_parallelism(df.select(F.col(id_col))).select(
        F.col(id_col).alias("neg_id"),
        (_hash60(F.concat(F.lit(f"{seed}b:"), sid)) % n_buckets).alias("__bkt"),
        _hash60(F.concat(F.lit(f"{seed}r:"), sid)).alias("__hr"),
    )
    anchors = df.select(F.col(id_col).alias("anchor")).select(
        "anchor", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("neg_idx")
    )
    sa = F.col("anchor").cast("string")
    hp = _hash60(
        F.concat(F.lit(f"{seed}p:"), sa, F.lit(":"), F.col("neg_idx").cast("string"))
    )
    probes = anchors.withColumn("__hp", hp).withColumn(
        "__bkt", F.col("__hp") % n_buckets
    )
    # per-pair score = (probe hash + candidate hash) mod 2^60 — the
    # Kirsch–Mitzenmacher combination used by the MinHash family. Each md5
    # is computed ONCE PER ROW (probe / candidate side); the per-pair work
    # inside a bucket is two int ops, not an md5 over a concatenated string
    # (that md5 was ~all of the operator's runtime at bucket fan-out).
    scored = (
        probes.join(cand, "__bkt")
        .filter(F.col("neg_id") != F.col("anchor"))
        .withColumn("__rnd", (F.col("__hp") + F.col("__hr")) % F.lit(1 << 60))
    )
    # argmin by (rnd, neg_id) PACKED into one decimal so the aggregate is
    # a plain hash-aggregable MIN: a struct-min falls back to
    # SortAggregate (sorts every scored row), a window top-k shuffles and
    # sorts them — the packed min aggregates partially map-side with no
    # sort anywhere. neg_id must fit 12 decimal digits (1e12 ids).
    packed = F.expr("CAST(__rnd AS DECIMAL(38,0)) * 1000000000000 + neg_id")
    return (
        scored.groupBy("anchor", "neg_idx")
        .agg(F.min(packed).alias("__p"))
        .select(
            "anchor",
            "neg_idx",
            F.expr("CAST(__p % 1000000000000 AS BIGINT)").alias("neg_id"),
        )
    )


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then drop
    near-duplicates WITHIN each cluster only — the decomposition that
    makes semantic dedup tractable at corpus scale. Pairwise cosine cost
    is bounded per cell ((|cell| choose 2), controlled by the clustering
    granularity), never all-pairs across the corpus.

    Physical shape: nearest-centroid assignment is :func:`ivf_assign`
    (entirely map-side, zero shuffle, centroids inlined as one literal);
    the within-cell self-join shuffles both sides ONCE on the small
    ``cent_id`` key; norms ride along from the assignment so pair scoring
    pays exactly one decimal-exact dot product. Keep rule: a vector is
    dropped iff some smaller-id vector in its cell is cosine-similar at
    ``threshold`` — "keep the minimum id of every duplicate relation",
    deterministic and engine-portable (the oracle restates the identical
    algebra).

    ``centroids`` is a :class:`CoarseQuantizer` or a frame carrying
    columns literally named ``cent_id`` and ``cvec`` (the
    :func:`ivf_assign` centroid contract — only the corpus side is
    renamed via ``id_col``/``vec_col``); rename yours with
    ``.select(F.col(my_id).alias("cent_id"), F.col(my_vec).alias("cvec"))``
    before calling.

    At 1000-executor scale nlist is sized so cells stay bounded (a fixed
    cell size C, nlist = N/C — e.g. C ≈ 4096 at web scale), which makes
    total pair work N·C/2, LINEAR in the corpus; cell skew is bounded by
    k-means balance, and a hot cell degrades to that one cell's pair
    count, not the corpus's. This is a MEASURED operating point, not
    prose: the ``semdedup_survivors_cellcap`` gate query runs the
    cell-capped regime across the committed sf1→sf10 decade with an
    in-cell pair census (bench_scale_r7.json in git history: pairs grow ~9.3×
    per 10× vectors, wall ~9.1×, vs 33.7× pair growth for the isqrt(N)
    sizing); ``catalog/similarity.py`` derives why the fixture-scale cap is 100
    (N/4096 only binds above N = 4096²). The large-nlist assignment cost
    this sizing implies is handled by :func:`ivf_assign`'s Arrow
    form (broadcast-shipped centroids) up to ``TWO_LEVEL_MIN_NLIST``,
    and past the broadcast ceiling by a two-level quantizer (centroids
    distributed end-to-end; approximate assignment — cell membership
    shifts slightly, the drop rule inside each cell is unchanged).
    Returns survivors
    ``(id_col, cent_id)``.
    """
    # The assignment feeds THREE plan branches (both sides of the in-cell
    # self-join plus the survivor anti-join); without materialization Spark
    # re-evaluates the nearest-centroid projection once per branch.
    # persist(MEMORY_AND_DISK) caches it so the corpus is assigned exactly
    # once — and, unlike the earlier lazy localCheckpoint, keeps lineage:
    # on a multi-executor cluster a lost executor RECOMPUTES the missing
    # partitions instead of failing the job (an unreplicated local
    # checkpoint is unrecoverable), and there is no first-action recompute
    # hazard over the round-robin ensure_parallelism split. Measured price
    # of the durability (sf0.1 local): ~0.5s (2.7s → 3.2s wall) from
    # the columnar cache serialization; accepted deliberately. The cache
    # is not released here — callers looping semdedup over many corpora
    # in one session should clearCache() between calls (LRU eviction
    # otherwise handles it under pressure).
    from pyspark.storagelevel import StorageLevel

    assigned = ivf_assign(
        ensure_parallelism(corpus), centroids, vec_col, id_col,
        n_probe=1,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
        F.col("nrm").alias("__na"), "cent_id",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
        F.col("nrm").alias("__nb"), "cent_id",
    )
    dropped = (
        a.join(b, "cent_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cos_ge(
                F.col("__va"), F.col("__vb"),
                F.col("__na"), F.col("__nb"), threshold,
            )
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.select(id_col, "cent_id")
        .join(dropped, id_col, "left_anti")
        .orderBy(id_col)
    )
