"""Round-11 regression tests (VERDICT r10 "Next round" + ADVICE):

- the multi-index banded Hamming self-join is COMPLETE under the
  pigeonhole guarantee (radius ≤ n_bands − 1): banded radius pairs ==
  exhaustive radius pairs on real fixtures;
- ``binary_hamming_topk(index="banded")`` is row-identical to the
  exhaustive scan — via the BANDED path when the per-query guarantee
  holds, via the verified in-plan fallback when it doesn't, and on
  MIXED inputs where some queries take each route;
- the guarantee flag itself: on the duplicate-union gate fixture every
  query has a distance-0 banded candidate, so the gated rows come from
  the banded join, not the fallback cross;
- ``_resolve_band_bits`` picks the coarsest guaranteeing width and
  raises on widths that cannot guarantee;
- the binary-codec IVF search degenerates to the flat one exactly when
  ``rerank_k`` covers every probed candidate, and its first pass is
  key-only (the full-width vector column never rides a plain Exchange);
- ``random_projection``'s derived dim is the smallest-id non-empty
  vector's length on RAGGED frames (r10 ADVICE: data-deterministic,
  not partition-order-dependent).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --- banded radius pairs: pigeonhole completeness ---------------------------


def test_banded_radius_pairs_equal_exhaustive(spark):
    """Banded self-join at guaranteeing band widths must return exactly
    the exhaustive radius pairs — missed pair or phantom pair both
    fail. Checked at two radii / band widths on the real fixture."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    thr = S.dimension_means(emb)
    cb = S.binary_quantize(emb, thresholds=thr)
    a = cb.select(
        F.col("vec_id").alias("id_a"),
        F.col("w0").alias("a0"), F.col("w1").alias("a1"),
    )
    b = cb.select(
        F.col("vec_id").alias("id_b"),
        F.col("w0").alias("b0"), F.col("w1").alias("b1"),
    )
    ham = (
        F.bit_count(F.col("a0").bitwiseXOR(F.col("b0")))
        + F.bit_count(F.col("a1").bitwiseXOR(F.col("b1")))
    ).cast("long")
    exhaustive = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", ham.alias("hamming")
    )
    for radius, band_bits in ((15, 4), (20, 2), (20, None)):
        want = _rows(
            exhaustive.filter(F.col("hamming") <= radius),
            "id_a", "id_b", "hamming",
        )
        got = _rows(
            S.binary_hamming_radius_pairs(
                emb, radius=radius, band_bits=band_bits,
                codec=S.Codec("binary", thresholds=thr),
            ),
            "id_a", "id_b", "hamming",
        )
        assert got == want and len(got) > 0, (radius, band_bits)


def test_resolve_band_bits_contract(spark):
    from hbase_taggregator_spark.operators.similarity import (
        _resolve_band_bits,
    )

    # coarsest width that still guarantees: dim/bits > radius
    assert _resolve_band_bits(64, 3, None) == 16
    assert _resolve_band_bits(64, 4, None) == 8
    assert _resolve_band_bits(64, 15, None) == 4
    assert _resolve_band_bits(64, 31, None) == 2
    assert _resolve_band_bits(64, 63, None) == 1
    with pytest.raises(ValueError, match="cannot guarantee"):
        _resolve_band_bits(64, 64, None)
    # explicit widths must actually guarantee
    with pytest.raises(ValueError, match="pigeonhole"):
        _resolve_band_bits(64, 4, 16)
    with pytest.raises(ValueError, match="must divide"):
        _resolve_band_bits(64, 3, 24)


# --- banded top-k: exactness via guarantee + verified fallback --------------


def test_banded_topk_equals_scan_on_fixture(spark):
    """At the random-ish fixture no query meets the guarantee (min
    pairwise distance 15 > n_bands-1=3), so every query takes the
    verified fallback — results must still be row-identical to the
    exhaustive scan, pure-Hamming and re-ranked both."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5)
    for kw in (dict(k=10), dict(k=3, rerank_k=10)):
        scan = S.binary_hamming_topk(emb, q, index="scan", **kw)
        banded = S.binary_hamming_topk(emb, q, index="banded", **kw)
        cols = scan.columns
        assert _rows(banded, *cols) == _rows(scan, *cols)


def test_banded_topk_mixed_guarantee_and_fallback(spark):
    """Mixed corpus: queries 0-2 have TWO exact duplicates (>= m=2
    distance-0 candidates — guarantee holds, banded route), queries
    3-5 have one (guarantee fails at m=2 — fallback route). The union
    must equal the exhaustive scan row-for-row."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 40)
    dup1 = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    dup2 = base.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 2000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(dup1).unionByName(dup2)
    q = base.filter(F.col("vec_id") < 6)
    scan = S.binary_hamming_topk(corpus, q, k=2, index="scan")
    banded = S.binary_hamming_topk(corpus, q, k=2, index="banded")
    assert _rows(banded, "query_id", "vec_id", "hamming") == _rows(
        scan, "query_id", "vec_id", "hamming"
    )
    # route assertion: the per-query guarantee flag (>= m candidates at
    # hamming <= n_bands-1) splits exactly as constructed
    thr = S.dimension_means(corpus)
    cb = S.binary_quantize(corpus, thresholds=thr)
    qb = S.binary_quantize(q, thresholds=thr).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("__q0"), F.col("w1").alias("__q1"),
    )
    cands = S._banded_candidates(
        cb, qb, n_words=2, n_bands=4, band_bits=16,
        id_col="vec_id", query_id_col="query_id", exclude_self=True,
    )
    good = {
        r["query_id"]: r["n"]
        for r in cands.filter(F.col("hamming") <= 3)
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(good.get(i, 0) >= 2 for i in range(3))
    assert all(good.get(i, 0) < 2 for i in range(3, 6))


def test_banded_dup_gate_takes_banded_route(spark):
    """The similarity_binary_banded_dup_top1 gate fixture: every query
    has its exact duplicate at distance 0 in the banded candidate set,
    so the guarantee holds at m=1 for ALL queries — the gated rows come
    from the banded join, the fallback cross contributes nothing."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    dup = emb.unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    q = emb.filter(F.col("vec_id") < 10)
    thr = S.dimension_means(dup)
    cb = S.binary_quantize(dup, thresholds=thr)
    qb = S.binary_quantize(q, thresholds=thr).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("__q0"), F.col("w1").alias("__q1"),
    )
    cands = S._banded_candidates(
        cb, qb, n_words=2, n_bands=4, band_bits=16,
        id_col="vec_id", query_id_col="query_id", exclude_self=True,
    )
    zero = (
        cands.filter(F.col("hamming") == 0)
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert sorted(r["query_id"] for r in zero) == list(range(10))
    out = S.binary_hamming_topk(dup, q, k=1, index="banded").collect()
    assert sorted((r["query_id"], r["vec_id"], r["hamming"]) for r in out) \
        == [(i, i + 100000, 0) for i in range(10)]


# --- binary-code dedup (drop-the-larger-id over radius pairs) ---------------


def test_binary_dedup_survivors_matches_exhaustive_rule(spark):
    """Survivors = clean ids minus {id_b of every radius pair}, with
    the exhaustive pair set as ground truth; the min id of every
    duplicate group must survive. Checked on a corpus with exact
    triplicates (transitive chains collapse to the smallest id)."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 30)
    corpus = base.unionByName(
        base.filter(F.col("vec_id") < 4).select(
            (F.col("vec_id") + 500).alias("vec_id"), "embedding"
        )
    ).unionByName(
        base.filter(F.col("vec_id") < 4).select(
            (F.col("vec_id") + 900).alias("vec_id"), "embedding"
        )
    )
    got = sorted(
        r["vec_id"]
        for r in S.binary_dedup_survivors(
            corpus, radius=3, band_bits=16
        ).collect()
    )
    thr = S.dimension_means(corpus)
    cb = S.binary_quantize(corpus, thresholds=thr)
    a = cb.select(F.col("vec_id").alias("id_a"),
                  F.col("w0").alias("a0"), F.col("w1").alias("a1"))
    b = cb.select(F.col("vec_id").alias("id_b"),
                  F.col("w0").alias("b0"), F.col("w1").alias("b1"))
    ham = (F.bit_count(F.col("a0").bitwiseXOR(F.col("b0")))
           + F.bit_count(F.col("a1").bitwiseXOR(F.col("b1")))).cast("long")
    drops = {
        r["id_b"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(ham <= 3).select("id_b").collect()
    }
    all_ids = sorted(r["vec_id"] for r in corpus.select("vec_id").collect())
    want = [i for i in all_ids if i not in drops]
    assert got == want
    # every duplicated base id survives as ITSELF; all shifted copies drop
    assert all(i in got for i in range(4))
    assert all(i + 500 not in got and i + 900 not in got for i in range(4))


# --- composed IVF + binary stack --------------------------------------------


def test_ivf_binary_degenerates_to_ivf_topk(spark):
    """rerank_k >= every probed candidate count ⇒ the Hamming shortlist
    keeps everything and the binary-codec search must equal the flat one
    exactly (same centroids, same probes, same exact-cosine ranking)."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5)
    quant = S.coarse_quantizer(S.seed_centroids(emb, 8))
    flat, _ = S.build_ivf_index(emb, quant)
    want = _rows(
        S.ivf_search(flat, q, quant, k=3, n_probe=3),
        "query_id", "vec_id", "cosine",
    )
    words, codec = S.build_ivf_index(emb, quant, S.Codec("binary"))
    got = _rows(
        S.ivf_search(words, q, quant, codec, k=3, n_probe=3,
                     rerank_k=10 ** 6),
        "query_id", "vec_id", "cosine",
    )
    assert got == want and len(got) == 15


def test_ivf_binary_first_pass_is_key_only(spark):
    """No plain (RoundRobin/hash) Exchange in the composed plan may
    carry the full-width vector column INTO the Hamming stage: the
    first pass moves packed words + cell keys only. The vector column
    legitimately appears in broadcast exchanges (query side) and in the
    final re-rank scan, which is join-filtered, not shuffled."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5)
    quant = S.coarse_quantizer(S.seed_centroids(emb, 8))
    index, codec = S.build_ivf_index(emb, quant, S.Codec("binary"))
    plan = (
        S.ivf_search(index, q, quant, codec, k=3, n_probe=3, rerank_k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for m in re.finditer(r"Exchange (hashpartitioning|RoundRobinPartitioning)"
                         r"[^\n]*", plan):
        line = m.group(0)
        assert "embedding" not in line, line
    assert "Python" not in plan


# --- persisted IVF index (standing index build + pruned probe) --------------


def test_ivf_index_layout_is_one_directory_per_cell(spark, tmp_path):
    """cent_id is the PARTITION column: one `cent_id=<k>/` directory
    per non-empty inverted list, so a static or dynamic cent_id
    predicate prunes files before any row is read."""
    import os

    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark).filter(F.col("vec_id") < 100)
    cents = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    path = str(tmp_path / "ivf")
    S.write_ivf_index(emb, S.coarse_quantizer(cents), path)
    dirs = sorted(
        d for d in os.listdir(path) if d.startswith("cent_id=")
    )
    assert 1 <= len(dirs) <= 8
    # a static single-cell read touches only that directory's rows
    one = int(dirs[0].split("=")[1])
    idx, _ = S.read_ivf_index(spark, path)
    static = idx.filter(F.col("cent_id") == one)
    n_direct = spark.read.parquet(f"{path}/cent_id={one}").count()
    assert static.count() == n_direct


def test_ivf_index_append_equals_full_build(spark, tmp_path):
    """Incremental index maintenance: building on half the corpus and
    APPENDING the other half (same centroids — the standing-index
    contract) must answer queries identically to a one-shot full
    build. Parquet append lands new files inside the existing cent_id
    directories, so the pruned probe sees old and new vectors alike."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    cents = emb.orderBy("vec_id").limit(16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    q = emb.filter(F.col("vec_id") < 5)
    full_path = str(tmp_path / "full")
    incr_path = str(tmp_path / "incr")
    quant = S.coarse_quantizer(cents)
    S.write_ivf_index(emb, quant, full_path)
    S.write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), quant, incr_path)
    S.write_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 1), quant, incr_path, mode="append"
    )
    idx_full, _ = S.read_ivf_index(spark, full_path)
    idx_incr, _ = S.read_ivf_index(spark, incr_path)
    assert idx_incr.count() == idx_full.count()
    got = _rows(
        S.ivf_search(idx_incr, q, quant, k=5, n_probe=4),
        "query_id", "vec_id", "cosine",
    )
    want = _rows(
        S.ivf_search(idx_full, q, quant, k=5, n_probe=4),
        "query_id", "vec_id", "cosine",
    )
    assert got == want and len(got) == 25


# --- random_projection: deterministic dim derivation (r10 ADVICE) -----------


def test_random_projection_ragged_dim_is_smallest_id_length(spark):
    """On a mixed-width frame the derived dim must be the smallest-id
    non-empty vector's length — a pure function of the data — so the
    surviving row set can't flip with scan or partition order."""
    from hbase_taggregator_spark.operators import similarity as S

    rows = [
        (7, [1.0] * 8),
        (3, [1.0] * 16),   # smallest non-empty id → dim = 16
        (9, [1.0] * 16),
        (11, []),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = S.random_projection(df, out_dim=2).collect()
    assert sorted(r["vec_id"] for r in out) == [3, 9]
    # repartitioned differently: same answer
    out2 = S.random_projection(df.repartition(7), out_dim=2).collect()
    assert sorted(r["vec_id"] for r in out2) == [3, 9]
