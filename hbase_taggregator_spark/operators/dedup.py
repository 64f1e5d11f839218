"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Designed as a funnel, the way a 100 TB pipeline actually runs them:

1. **exact** — one hash-groupBy on a content fingerprint. Cost: one shuffle
   of (fingerprint, id); at scale the fingerprint is 16 bytes/row.
2. **MinHash-LSH** — shingle → k min-hashes → b bands; only documents
   sharing a band bucket become candidate pairs. The band join shuffles
   (band_key) pairs, never the cross product. Candidates are then verified
   with true Jaccard. Collision probability ≈ 1-(1-s^r)^b for similarity s.
3. **SimHash** — 64-bit weighted-bit signature; near-dups differ in few
   bits. Banded the same way (4×16-bit chunks ⇒ Hamming ≤ 3 guaranteed
   candidate recall within chunk-equality).
4. **exact Jaccard / cosine verify** — only on the candidate set.

Hashing defaults to md5 (`conv(substr(md5(x),1,15),16,10)` — 60-bit ints)
so results are engine-portable (the query-catalog oracles re-state the same
algebra in DuckDB SQL); the MinHash family also takes ``hash_fn='xxhash64'``
as a Spark-native production fast path (measured ~12% on the signature
stage — see :func:`minhash_signatures` — never used under the gate).
Everything is built-in expressions — higher-order functions, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from hbase_taggregator_spark.operators.text import fingerprint, tokens
from hbase_taggregator_spark.util import ensure_parallelism


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_columns: list[str] | None = None,
) -> DataFrame:
    """Exact near-identity dedup on the normalized-content fingerprint:
    keeps the lowest-id representative per group, annotated with the
    duplicate count. One shuffle on the 16-byte fingerprint.

    ``keep_columns`` returns the surviving rows WITH those payload columns
    attached (no caller-side re-join): the groupBy becomes a window over
    the same fingerprint key — still exactly one shuffle — with
    ``row_number`` picking the lowest-id survivor and a count-over-window
    supplying ``n_duplicates``."""
    fpd = fingerprint(df, text_col, "fp")
    if keep_columns is None:
        return fpd.groupBy("fp").agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_duplicates"),
        )
    w = W.partitionBy("fp")
    return (
        fpd.withColumn("__rk", F.row_number().over(w.orderBy(id_col)))
        .withColumn("n_duplicates", F.count(F.lit(1)).over(w))
        .filter(F.col("__rk") == 1)
        .select("fp", id_col, *keep_columns, "n_duplicates")
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>). Built-ins only:
    split → transform over an index sequence → concat; empty when the
    document has fewer than n tokens."""
    toks = tokens(text)
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], so short
    # documents must short-circuit to an empty shingle set explicitly
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(grams)


def _hash60(c: Column) -> Column:
    """md5-based 60-bit integer hash — engine-portable (DuckDB:
    CAST('0x' || substr(md5(x),1,15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """k-column MinHash signature table: m_i = min over shingles of
    hash60(i || '#' || shingle). Documents with no shingle are dropped.

    Relational formulation on purpose: explode shingles once → k flat hash
    columns per row → groupBy-min. A nested higher-order-function
    formulation (array_min over transform, ×k, re-inlined per consumer)
    explodes Catalyst's expression tree and takes codegen minutes even on
    tiny inputs; the explode keeps every expression small, vectorized, and
    partially aggregated before the shuffle on ``id_col``.

    Parallelism is ensured on the narrow (id, text) input BEFORE the
    explode: the same spread at 1/fan-out of the shuffle bytes (each doc
    ships once, not once per shingle). Shingles are distinct per document
    (:func:`word_shingles` dedups), so every shingle is hashed once.

    ``hash_fn`` selects the base-hash backend; both feed the same
    Kirsch-Mitzenmacher expansion and min-aggregation:

    - ``'md5'`` (default, the ORACLE CONTRACT): one md5 per shingle, both
      K-M words carved from the one digest. Portable — DuckDB restates it
      exactly, so this is what every gate query runs.
    - ``'xxhash64'`` (production fast path): two seeded ``xxhash64``
      calls per shingle — Spark's native 64-bit hash, no hex string, no
      base conversion. Measured honestly (r6, warm, sf1 local[32],
      IDENTICAL funnel parameters both sides): signature stage ~12%
      faster (2.34 s vs 2.67 s), full gate-shaped funnel ~11% faster
      (9.95 s vs 11.14 s) — a real but bounded win, because the stage is
      substantially explode/shuffle-bound; md5's oracle portability
      costs ~11% of funnel wall at this shape. The gap widens where
      hashing dominates: larger k, longer shingles, CPU-saturated
      clusters. Engine-specific, therefore NOT oracle-portable:
      identical dedup QUALITY (uniform 60-bit hashes), different hash
      values — never under the DuckDB gate.
    """
    # ALL internal columns use dunder names (__s, __m, __lo, __hi,
    # __h{i}) and Column-object references (no F.expr strings) so a
    # caller's id_col can never be captured by an internal name
    # resolving against the wrong column; the m0..m{k-1} OUTPUT columns
    # are the public signature schema, the one namespace a caller's
    # id_col must avoid
    sh = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n_shingle)).alias("__s"),
    )
    # Kirsch-Mitzenmacher double hashing, h_i = (lo + i*hi) mod 2^60 —
    # k-independent hashing cost from one (md5) or two (xxhash64) base
    # hashes per shingle. lo is 60 bits; hi is shrunk so that
    # lo + (k-1)·hi < 2^63 and the arithmetic is portable: no overflow
    # error under Spark ANSI, no silent wraparound, no overflow error in
    # DuckDB. The shrink divisor is the smallest power of two with
    # (k-1) ≤ 7·2^s (sum < 2^60 + 7·2^60 = 2^63) — s=2 (÷4, 58-bit hi)
    # for every k ≤ 29 including the k=16 the oracles restate, larger
    # for larger k (k=32 → ÷8), so big-k signatures are safe instead of
    # overflowing at i ≥ 29.
    shrink = 2
    while 7 * (1 << shrink) < k - 1:
        shrink += 1
    div = 1 << shrink
    if hash_fn == "md5":
        # md5's first 15 hex digits → lo, next 15 → hi (one digest, two
        # K-M words — halves the hashing cost vs two salted digests).
        # div is a power of two and the conv result is a non-negative
        # 60-bit value, so shiftright ≡ the oracle's integer `div`.
        based = sh.select(
            id_col,
            F.md5(F.concat(F.lit("mh#"), F.col("__s"))).alias("__m"),
        ).select(
            id_col,
            F.conv(F.substring(F.col("__m"), 1, 15), 16, 10).cast("long").alias("__lo"),
            F.shiftright(
                F.conv(F.substring(F.col("__m"), 16, 15), 16, 10).cast("long"),
                shrink,
            ).alias("__hi"),
        )
    elif hash_fn == "xxhash64":
        # two seed-salted xxhash64 words, folded into the same ranges
        based = sh.select(
            id_col,
            F.pmod(F.xxhash64(F.lit("mh-lo"), F.col("__s")), F.lit(1 << 60)).alias("__lo"),
            F.shiftright(
                F.pmod(F.xxhash64(F.lit("mh-hi"), F.col("__s")), F.lit(1 << 60)),
                shrink,
            ).alias("__hi"),
        )
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    hashed = based.select(
        id_col,
        *[
            ((F.col("__lo") + F.lit(i) * F.col("__hi")) % F.lit(1 << 60)).alias(f"__h{i}")
            for i in range(k)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"__h{i}").alias(f"m{i}") for i in range(k)]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
    max_bucket: int | None = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash.

    ``hash_fn`` passes through to :func:`minhash_signatures` —
    ``'xxhash64'`` is the engine-native production fast path (same
    banding, same quality, not oracle-portable).

    rows/band-bucket pairs only — the self-join is on (band_idx, band_key),
    so the shuffle carries one row per (doc, band), and only same-bucket
    docs meet. Output: (id_a, id_b, n_shared_bands), id_a < id_b.

    ``max_bucket`` is the standard LSH skew guard: the in-bucket pair count
    is quadratic, so one hot band key (empty docs, boilerplate) becomes a
    straggler task computing millions of pairs. Buckets with more than
    ``max_bucket`` members are DROPPED before the self-join (their members
    are near-certain boilerplate; exact dedup upstream catches identical
    docs regardless — see :func:`dedup_funnel`), bounding any task's pair
    fan-out at ``max_bucket²``. Size-1 buckets are pruned too (they cannot
    produce a pair), which shrinks the self-join input for free. ``None``
    disables the guard. The bucket census reuses the (band_idx, band_key)
    partitioning the self-join needs anyway — no extra shuffle pattern.
    """
    sig = minhash_signatures(df, text_col, id_col, n_shingle, k, hash_fn)
    with_bands = _band_rows(sig, id_col, k, bands)
    bucket_n = with_bands.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    cap = (
        F.col("__bn") <= max_bucket if max_bucket is not None else F.lit(True)
    )
    ok = bucket_n.filter((F.col("__bn") >= 2) & cap).select(
        "band_idx", "band_key"
    )
    with_bands = with_bands.join(ok, ["band_idx", "band_key"])
    a, b = with_bands.alias("a"), with_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    explode distinct shingles → self-join on shingle → |A∩B| per pair →
    |A∪B| = |A|+|B|−|A∩B|. The shuffle is on the shingle, so a hot shingle
    fans out quadratically — at 100 TB run this only on an LSH candidate
    set (compose with :func:`minhash_lsh_candidates`) or set
    ``max_doc_freq``: shingles appearing in more than that many documents
    (boilerplate) are excluded from the similarity universe — both from the
    intersection join AND from the per-document sizes, so the result is
    exact document-frequency-filtered Jaccard (the standard df-filter
    semantics, restated identically by the oracle), with any shingle's pair
    fan-out bounded by ``max_doc_freq²``.
    Jaccard is an exact rational cast to double — engine-portable."""
    sh = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n_shingle)).alias("sh"),
    )
    if max_doc_freq is not None:
        ok = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("sh")
        )
        sh = sh.join(ok, "sh")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def dedup_funnel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """The full near-dup funnel, composed end-to-end the 100 TB-safe way
    (module docstring steps 2+4 as ONE plan):

    1. MinHash-LSH candidate pairs (banded equi-join — never all-pairs).
    2. Exact Jaccard verification computed ONLY on the candidate pairs:
       the shingle self-join is constrained to candidate (id_a, id_b), so
       its cost is |candidates| × shingles-per-doc, not corpus².
    3. Survivors: keep the lowest-id member of every verified duplicate
       relation — a document is dropped iff some lower-id candidate partner
       exceeds the Jaccard threshold.

    Returns the surviving (id_col) rows. At scale every join here is keyed
    (band_key, then id), so the plan is shuffle-bounded by the candidate
    set — the quadratic verify stage of :func:`jaccard_pairs` never runs on
    the whole corpus.

    ``hash_fn`` passes through to the candidate stage only (the Jaccard
    verify is exact and hash-free), so ``'xxhash64'`` accelerates the
    funnel's dominant signature cost without touching survivor semantics
    — same candidates up to hash-family noise, identical verify rule.
    Gate queries keep the md5 oracle contract.

    Census-paired scale evidence (r10, ``bench_funnel_r10.json`` in git history):
    per-stage bound quantities next to min-of-N walls at sf1 AND sf10
    (the two-level decade discipline). At the gate parameters with the
    xxhash64 production path: docs ×10 grows candidate pairs ×104.5
    (255k → 26.7M — the sf10 fixture is dup-dense by construction) while
    wall grows ×16.7 (9.69 s → 161.6 s), i.e. ~candidates^0.60 — the
    corpus-bound signature/banding stages amortize and the verify stage,
    whose cost IS the candidate count, stays map-side per pair
    (id-keyed array-intersect, never pairs × shingles).
    """
    cand = minhash_lsh_candidates(
        df, text_col, id_col, n_shingle, k, bands, max_bucket, hash_fn
    )
    # verify: exact Jaccard per CANDIDATE pair over per-doc shingle SETS
    # (word_shingles is array_distinct), carried as arrays. Two id-keyed
    # hash joins attach each side's array to the pair, then
    # |A∩B| = size(array_intersect) evaluates MAP-SIDE. This replaces the
    # earlier exploded-shingle formulation, whose
    # (pairs × shingles-per-doc) intermediate — ~50M rows at sf1 for 250k
    # candidates — dominated the funnel's cost; shuffled bytes are now
    # bounded by (2 × corpus shingle arrays + candidate pairs), never by
    # pairs × shingles. The n_common > 0 guard keeps the old inner-join
    # semantics (a pair sharing no shingle is never a duplicate relation,
    # even at threshold 0).
    arrays = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        word_shingles(F.col(text_col), n_shingle).alias("shs"),
    )
    inter = (
        cand.select("id_a", "id_b")
        .join(arrays.select(F.col(id_col).alias("id_a"),
                            F.col("shs").alias("shs_a")), "id_a")
        .join(arrays.select(F.col(id_col).alias("id_b"),
                            F.col("shs").alias("shs_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("n_common"),
            F.size("shs_a").alias("n_a"),
            F.size("shs_b").alias("n_b"),
        )
    )
    dups = (
        inter.filter(
            (F.col("n_common") > 0)
            & (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                >= threshold
            )
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.select(id_col).join(dups, id_col, "left_anti")


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 2,
) -> DataFrame:
    """64-bit SimHash per document: for each bit position, +1 if the
    shingle's hash bit is set else -1, summed over shingles; the sign
    becomes the signature bit. Two 32-bit md5 halves keep all shifts in
    exact integer space (top bit left 0 — no signed-overflow ambiguity).

    Relational formulation (explode shingles → 64 flat vote aggregates →
    weighted bit sum) for the same codegen reason as
    :func:`minhash_signatures`: one shuffle on ``id_col`` with map-side
    partial sums; votes never materialize per (doc, bit) rows.

    Output: (id, simhash, 4×16-bit chunk keys) — chunk equality is the LSH
    for Hamming distance (signatures within Hamming ≤ 3 share ≥1 chunk).
    """
    sh = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n_shingle)).alias("s"),
    )
    # one md5 per shingle; the two 32-bit hash words are the digest's
    # first and second 8-hex-digit halves (same cost halving as
    # minhash_signatures)
    hashed = sh.select(
        id_col,
        F.md5(F.concat(F.lit("sh#"), F.col("s"))).alias("__m"),
    ).select(
        id_col,
        F.conv(F.substring(F.col("__m"), 1, 8), 16, 10).cast("long").alias("h0"),
        F.conv(F.substring(F.col("__m"), 9, 8), 16, 10).cast("long").alias("h1"),
    )

    def vote(h: str, bit: int) -> Column:
        return F.sum(
            F.when(F.col(h).bitwiseAND(F.lit(1 << bit)) != 0, 1).otherwise(-1)
        )

    votes = hashed.groupBy(id_col).agg(
        *[vote("h0", b).alias(f"v0_{b}") for b in range(32)],
        *[vote("h1", b).alias(f"v1_{b}") for b in range(31)],
    )
    sig = F.lit(0).cast("long")
    for b in range(32):
        sig = sig + F.when(F.col(f"v0_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
    for b in range(31):
        sig = sig + F.when(
            F.col(f"v1_{b}") > 0, F.lit(1 << (32 + b)).cast("long")
        ).otherwise(0)
    out = votes.select(F.col(id_col), sig.alias("simhash"))
    for c in range(4):
        out = out.withColumn(
            f"chunk{c}",
            F.shiftrightunsigned(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF)),
        )
    return out


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: collapse pairwise
    near-duplicate evidence (from :func:`jaccard_pairs` /
    :func:`dedup_funnel` / :func:`simhash_table` buckets) into duplicate
    CLUSTERS — the step that turns "A~B, B~C" into one keep-decision for
    {A, B, C} instead of two independent pair decisions.

    Algorithm: iterative min-label propagation — every node starts labeled
    with its own id; each round a node takes the minimum of its label and
    its neighbors' labels; fixpoint = per-component minimum id. Each round
    is one join + one groupBy (shuffles keyed on node id), and the loop
    terminates after graph-diameter rounds — for dedup graphs (small, dense
    clusters) that is a handful. ``localCheckpoint`` truncates the plan
    lineage per round so the job graph stays flat at any scale; the
    convergence test reuses the round's aggregate (one extra count per
    round, the standard Spark CC shape a la GraphX/GraphFrames).

    Returns (node_id, component_id, component_size) for every node that
    appears in ``pairs`` — singletons never enter the graph.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("lbl", F.col("id"))
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        nxt = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        changed = (
            nxt.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = nxt
        if changed == 0:
            break
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("id").alias("node_id"),
            F.col("lbl").alias("component_id"),
            "component_size",
        )
    )


def fuzzy_match_candidates(
    df: DataFrame,
    name_col: str,
    id_col: str,
    prefix_len: int = 16,
    max_dist: int = 1,
    max_block: int | None = 1000,
) -> DataFrame:
    """Edit-distance near-match candidates via prefix blocking — the
    entity-resolution primitive (record linkage on names/titles/SKUs).
    Rows sharing a ``prefix_len``-character prefix form a block; pairs
    within a block are verified with exact Levenshtein ≤ ``max_dist``.
    Blocking is part of the CONTRACT (like every LSH family here): pairs
    whose edits fall inside the prefix are by-design missed, and the gate
    oracle restates the same block+verify algebra.

    Physical shape at 100 TB: one shuffle on the block key, quadratic only
    WITHIN a block; ``max_block`` is the same skew guard as the LSH bucket
    caps — blocks larger than it (a degenerate all-equal prefix: empty
    names, one dominant SKU family) are DROPPED before the self-join,
    bounding any task at ``max_block²`` verifies. Capped-out members can
    still match through nothing else (unlike banded LSH), so at scale
    lengthen ``prefix_len`` rather than relying on the cap.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    from hbase_taggregator_spark.util import ensure_parallelism

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(name_col).alias("name"),
        F.substring(F.col(name_col), 1, prefix_len).alias("blk"),
    )
    if max_block is not None:
        ok = (
            base.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter((F.col("__bn") >= 2) & (F.col("__bn") <= max_block))
            .select("blk")
        )
        base = base.join(F.broadcast(ok), "blk", "left_semi")
    # the probe side carries the quadratic in-block verify — a single-file
    # input would run every Levenshtein on one core
    a, b = ensure_parallelism(base).alias("a"), base.alias("b")
    return (
        a.join(b, on="blk")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("dist", F.levenshtein(F.col("a.name"), F.col("b.name")))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            "dist",
        )
        .orderBy("id_a", "id_b")
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 5,
) -> DataFrame:
    """Benchmark-contamination check — the decontamination pass every
    pretraining pipeline runs before training (does a training document
    contain n-grams from an evaluation set?). Per corpus document: how
    many of its distinct word n-gram shingles appear in ANY benchmark
    document, and the contamination ratio.

    Physical shape at 100 TB: the benchmark shingle set (distinct 60-bit
    hashes — eval suites are tiny next to the corpus) broadcasts; the
    corpus side is explode → map-side semi probe → one partial/final count
    per doc. The corpus never shuffles on shingles. Documents shorter than
    the shingle width report 0 shingles.
    """
    from hbase_taggregator_spark.util import ensure_parallelism

    bench = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n_shingle)).alias("s")
        )
        .select(_hash60(F.concat(F.lit("ct#"), F.col("s"))).alias("h"))
        .distinct()
    )
    # the corpus side carries the shingle explode + hash — spread a
    # narrow (single-file) input before the compute-heavy projection
    corp = ensure_parallelism(corpus.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode_outer(word_shingles(F.col(text_col), n_shingle)).alias("s"),
    ).select(
        id_col,
        _hash60(F.concat(F.lit("ct#"), F.col("s"))).alias("h"),
    )
    # ONE pass over the exploded corpus: the broadcast bench set left-joins
    # in as a hit flag, and totals + hits come out of a single partial/
    # final aggregate (a hits/totals split would re-explode and re-hash
    # the whole corpus — its dominant cost — twice)
    flagged = corp.join(
        F.broadcast(bench.withColumn("__hit", F.lit(1))), "h", "left"
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.col("h")).alias("n_shingles"),
            F.count(F.col("__hit")).alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            F.when(F.col("n_shingles") > 0,
                   F.col("n_contaminated").cast("double")
                   / F.col("n_shingles").cast("double"))
            .otherwise(F.lit(0.0))
            .alias("contamination_ratio"),
        )
        .orderBy(id_col)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_shingle: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-duplicate PAIRS — completes the SimHash family from
    signatures (:func:`simhash_table`) to verified duplicate pairs.

    Candidate generation is chunk banding: the 64-bit signature's four
    16-bit chunks are the bands; by pigeonhole, two signatures within
    Hamming distance 3 MUST agree on at least one chunk, so the band
    equi-join is a COMPLETE prefilter for ``max_hamming <= 3`` — but
    ONLY while no band bucket exceeds ``max_bucket``: the skew guard
    below drops oversized buckets wholesale, so a pair whose every
    agreeing chunk lives in a dropped bucket is silently lost. On a
    boilerplate-heavy corpus (many near-identical shards sharing chunk
    values) that recall loss is real; raise ``max_bucket`` (or set it
    ≥ corpus size to disable the guard) when completeness matters more
    than bounding the worst hot key. ``tests/test_round5.py``
    (``test_simhash_pairs_max_bucket_drops_recall``) pins the behavior.
    Above ``max_hamming`` 3 the pigeonhole guarantee degrades gracefully
    — document, don't hide. Verify is one ``bit_count(a XOR b)`` per
    candidate pair — two int ops, JVM codegen, no text comparison.

    Physical shape at 100 TB: signatures are one shuffle (the shingle
    vote aggregate inside :func:`simhash_table`); banding explodes 4
    rows/doc and equi-joins on (band_idx, band_key) — same skew story as
    MinHash-LSH, so the same ``max_bucket`` guard drops degenerate
    buckets (all-same-boilerplate shards) instead of letting one hot key
    quadratically dominate; size-1 buckets can't pair and are dropped by
    the same HAVING. Never all-pairs.

    Output: (id_a, id_b, hamming), hamming <= max_hamming, distinct.
    """
    sig = simhash_table(df, text_col, id_col, n_shingle)
    bands = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(*[F.col(f"chunk{c}") for c in range(4)])
        ).alias("band_idx", "band_key"),
    )
    ok = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket))
        .select("band_idx", "band_key")
    )
    kept = bands.join(ok, ["band_idx", "band_key"])
    a = kept.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("__sa"),
        "band_idx", "band_key",
    )
    b = kept.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("__sb"),
        "band_idx", "band_key",
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    max_ratio: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 5,
) -> DataFrame:
    """Benchmark decontamination — the action half of
    :func:`contamination_overlap`: drop every corpus document whose
    contamination ratio (share of its distinct word n-gram shingles that
    appear in the benchmark set) exceeds ``max_ratio``, and return the
    surviving corpus rows unchanged.

    Composition, not new machinery: the overlap scan (broadcast benchmark
    shingle set, one pass over the exploded corpus) produces the doomed id
    set, which anti-joins back against the corpus — at scale the anti-join
    is a shuffle on ``id_col`` of (corpus + doomed ids), and the doomed
    set is tiny by construction (contamination is rare), so AQE turns it
    into a broadcast anti-join for free.
    """
    doomed = (
        contamination_overlap(corpus, benchmark, text_col, id_col, n_shingle)
        .filter(F.col("contamination_ratio") > max_ratio)
        .select(id_col)
    )
    return corpus.join(doomed, id_col, "left_anti")


def _band_rows(
    sig: DataFrame, id_col: str, k: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_key) rows from a k-column MinHash signature
    table: band b's key is the comma-join of its k/bands member hashes —
    the same banding :func:`minhash_lsh_candidates` inlines."""
    rows_per_band = k // bands
    return sig.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",", *[F.col(f"m{b * rows_per_band + r}")
                               for r in range(rows_per_band)]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def incremental_dedup(
    corpus: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Admission dedup for an INCREMENTAL ingest batch: which ``new``
    documents survive against an already-deduped ``corpus`` — the
    production mode of near-dup dedup at 100 TB, where re-running the
    full-corpus funnel per ingest batch would re-pay the corpus×corpus
    candidate stage every day for an unchanged answer.

    The physical shape is ASYMMETRIC banded MinHash-LSH: both sides are
    signed and banded (one shuffle each on ``id_col``), but the candidate
    join is new×corpus ONLY — the corpus NEVER self-joins, so candidate
    cost scales with |batch| × bucket-density, not |corpus|². At scale
    the corpus band table is computed once and persisted (it is
    append-only under admission: an admitted batch's bands are unioned
    in), making the per-batch cost |batch| × (sign + probe). The
    ``max_bucket`` guard caps the CORPUS side of each band bucket — a
    boilerplate-hot bucket bounds any new doc's candidate fan-out at
    ``max_bucket`` instead of the bucket's full population.

    Verify is exact n-gram Jaccard on candidate-attached shingle arrays
    (``array_intersect`` — same candidate-bounded shape as
    :func:`dedup_funnel`); a new document is rejected iff SOME corpus
    partner meets ``threshold``. Batch-internal duplicates are NOT
    handled here by design — run the funnel within the batch first, then
    admit (batch-internal pairs need a keep-rule; admission needs none).

    Returns the surviving ``new`` ids (one column, ``id_col``).
    """
    csig = minhash_signatures(corpus, text_col, id_col, n_shingle, k, hash_fn)
    nsig = minhash_signatures(new, text_col, id_col, n_shingle, k, hash_fn)
    cb = _band_rows(csig, id_col, k, bands).select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_key"
    )
    nb = _band_rows(nsig, id_col, k, bands).select(
        F.col(id_col).alias("new_id"), "band_idx", "band_key"
    )
    if max_bucket is not None:
        okc = (
            cb.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band_idx", "band_key")
        )
        cb = cb.join(okc, ["band_idx", "band_key"])
    cand = (
        nb.join(cb, ["band_idx", "band_key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    shs = lambda d: ensure_parallelism(d.select(id_col, text_col)).select(  # noqa: E731
        F.col(id_col), word_shingles(F.col(text_col), n_shingle).alias("shs")
    )
    inter = (
        cand.join(
            shs(new).select(F.col(id_col).alias("new_id"),
                            F.col("shs").alias("shs_n")), "new_id")
        .join(
            shs(corpus).select(F.col(id_col).alias("corpus_id"),
                               F.col("shs").alias("shs_c")), "corpus_id")
        .select(
            "new_id",
            F.size(F.array_intersect("shs_n", "shs_c")).alias("n_common"),
            F.size("shs_n").alias("n_n"),
            F.size("shs_c").alias("n_c"),
        )
    )
    rejected = (
        inter.filter(
            (F.col("n_common") > 0)
            & (
                F.col("n_common").cast("double")
                / (F.col("n_n") + F.col("n_c") - F.col("n_common"))
                >= threshold
            )
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new.select(id_col).join(rejected, id_col, "left_anti")
