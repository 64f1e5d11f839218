"""Round-12 regression tests (VERDICT r11 "Next round" + r11 ADVICE):

- r11 ADVICE guards: the binary family refuses a codec of another
  kind (no silent fallthrough to some other codebook);
  ``binary_hamming_topk(index="banded")`` raises the contract error on
  band widths that don't divide the packed word (no ZeroDivisionError /
  unresolvable-column crash); ``read_ivf_index`` returns ``cent_id`` at
  the written BIGINT type, not parquet's re-inferred INT.
- the binary-codec persisted IVF index stores the packed words and the
  thresholds sidecar (hidden from the main read); an index lacking a
  codec's columns is refused by the search; appends encode with the
  stored codec.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import ivf_pq

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _cents(emb, n=16):
    return emb.orderBy("vec_id").limit(n).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )


# --- r11 ADVICE guards -------------------------------------------------------


def test_binary_family_rejects_non_binary_codec(spark):
    """A codec of another kind must raise, not silently quantize
    against some other codebook (radius_pairs, dedup_survivors and the
    top-k share the one guard in their codec resolution)."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    with pytest.raises(ValueError, match="needs a binary codec"):
        S.binary_hamming_radius_pairs(emb, radius=3, codec=S.Codec("pq"))
    with pytest.raises(ValueError, match="needs a binary codec"):
        S.binary_dedup_survivors(emb, radius=3, codec=S.Codec())
    # a trained binary codec (sign bits) is used as given — still valid
    sign = S.Codec("binary", thresholds=[0.0] * 64)
    assert (
        S.binary_hamming_radius_pairs(emb, radius=3, codec=sign).columns
        == ["id_a", "id_b", "hamming"]
    )


def test_banded_topk_rejects_invalid_band_widths(spark):
    """index='banded' validates band_bits against the same candidate
    set as _resolve_band_bits: 64 (> word) would divide by zero in
    _explode_bands, 24 (non-divisor of 32) would map bands past the
    last packed word — both must raise the contract error instead."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 2)
    for bad in (64, 24):
        with pytest.raises(ValueError, match="must divide"):
            S.binary_hamming_topk(emb, q, index="banded", band_bits=bad)
    # 8 divides both 64 and 32: valid even though 8 bands guarantee
    # only radius 7 — the verified fallback keeps the result exact
    scan = S.binary_hamming_topk(emb, q, k=3, index="scan")
    banded = S.binary_hamming_topk(emb, q, k=3, index="banded", band_bits=8)
    cols = scan.columns
    assert _rows(banded, *cols) == _rows(scan, *cols)


def test_read_ivf_index_schema_matches_written(spark, tmp_path):
    """Partition-column type inference would hand back cent_id as INT;
    the reader re-casts to the written BIGINT so the round-trip schema
    is identical to what write_ivf_index wrote (r11 ADVICE)."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    quant = S.coarse_quantizer(_cents(emb))
    S.write_ivf_index(emb, quant, path)
    idx, codec = S.read_ivf_index(spark, path)
    assert dict(idx.dtypes)["cent_id"] == "bigint"
    # ...and the cast does not defeat dynamic partition pruning
    q = emb.filter(F.col("vec_id") < 3)
    plan = (
        S.ivf_search(idx, q, quant, codec, k=3, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "dynamicpruning" in plan


# --- binary=True persisted IVF index + indexed composed stack ----------------


def test_binary_index_layout_and_sidecar(spark, tmp_path):
    """A binary codec stores the packed words next to each row and the
    thresholds under _thresholds — hidden from the main read (the
    underscore convention) but exact on read-back."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(emb, _cents(emb), path, S.Codec("binary"))
    idx, codec = S.read_ivf_index(spark, path)
    assert set(idx.columns) == {
        "vec_id", "embedding", "nrm", "w0", "w1", "cent_id"
    }
    assert idx.count() == emb.count()
    thr = codec.thresholds
    assert thr == S.dimension_means(emb) and len(thr) == 64
    # the stored words are exactly binary_quantize at those thresholds
    want = _rows(S.binary_quantize(emb, thresholds=thr), "vec_id", "w0", "w1")
    got = _rows(idx, "vec_id", "w0", "w1")
    assert got == want


def test_ivf_binary_indexed_requires_binary_layout(spark, tmp_path):
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(emb, _cents(emb), path)  # no binary columns
    idx, _ = S.read_ivf_index(spark, path)
    q = emb.filter(F.col("vec_id") < 2)
    binary = S.Codec("binary", thresholds=[0.0] * 64)
    with pytest.raises(ValueError, match=r"lacks columns \['w0', 'w1'\]"):
        S.ivf_search(idx, q, _cents(emb), binary)


# --- standing binary band index + incremental admission ----------------------


def test_binary_admission_equals_full_recompute(spark, tmp_path):
    """Admitting a batch against the standing band index must equal
    re-running binary_dedup_survivors on corpus ∪ batch (same
    thresholds) restricted to batch ids — the non-iterative drop rule
    makes the two constructions provably equal; this pins the
    implementation to it. Checked at two splits."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    for split in (400, 250):
        corpus = emb.filter(F.col("vec_id") < split)
        batch = emb.filter(F.col("vec_id") >= split)
        path = str(tmp_path / f"bands{split}")
        S.write_binary_band_index(corpus, path, band_bits=4)
        idx, codec, bb = S.read_binary_band_index(spark, path)
        assert (bb, codec.dim, len(codec.thresholds)) == (4, 64, 64)
        got = _rows(
            S.binary_incremental_admitted(
                idx, batch, codec, radius=15, band_bits=bb
            ),
            "vec_id",
        )
        want = [
            r
            for r in _rows(
                S.binary_dedup_survivors(
                    emb, radius=15, codec=codec, band_bits=4
                ),
                "vec_id",
            )
            if r[0] >= split
        ]
        assert got == want and 0 < len(got) <= batch.count(), split


def test_binary_admission_prunes_and_validates(spark, tmp_path):
    """The admission join must dynamic-partition-prune the standing
    band scan (batch bands broadcast against the (band_idx, band_val)
    partition columns), and a width that cannot guarantee the radius
    must raise rather than under-admit."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "bands")
    S.write_binary_band_index(corpus, path, band_bits=4)
    idx, codec, bb = S.read_binary_band_index(spark, path)
    plan = (
        S.binary_incremental_admitted(idx, batch, codec, radius=15,
                                      band_bits=bb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "dynamicpruning" in plan and "Python" not in plan
    # 16-bit bands (4 bands) cannot guarantee radius 15
    with pytest.raises(ValueError, match="pigeonhole"):
        S.binary_incremental_admitted(idx, batch, codec, radius=15,
                                      band_bits=16)
    with pytest.raises(ValueError, match="needs a binary codec"):
        S.write_binary_band_index(corpus, path, S.Codec("pq"))


def test_binary_band_index_append_grows_in_place(spark, tmp_path):
    """Growing the standing index with an admitted batch (append at the
    STORED thresholds) must equal a one-shot build over the union —
    new band rows land inside the existing bucket directories."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    full_path = str(tmp_path / "full")
    incr_path = str(tmp_path / "incr")
    thr = S.dimension_means(corpus)
    codec = S.Codec("binary", thresholds=thr)
    S.write_binary_band_index(emb, full_path, codec, band_bits=4)
    S.write_binary_band_index(corpus, incr_path, codec, band_bits=4)
    S.write_binary_band_index(
        batch, incr_path, codec, band_bits=4, mode="append"
    )
    f, codec_f, _ = S.read_binary_band_index(spark, full_path)
    i, codec_i, _ = S.read_binary_band_index(spark, incr_path)
    assert codec_f.thresholds == codec_i.thresholds == thr
    cols = ["vec_id", "w0", "w1", "band_idx", "band_val"]
    assert _rows(i, *cols) == _rows(f, *cols)


# --- Lloyd-refined PQ codebooks ----------------------------------------------


def test_pq_refine_structure_and_empty_cluster_carryover(spark):
    """Refined books keep the (subspace, code) key set and sub-vector
    width; a codeword whose cluster empties keeps its init value (the
    k-means empty-cluster convention). The duplicate-init frame forces
    code 1's cluster empty: both init vectors are identical, so every
    row assigns to code 0 (tie → smaller code id)."""
    from hbase_taggregator_spark.operators import similarity as S

    rows = [
        (0, [1.0] * 64),
        (1, [1.0] * 64),     # duplicate of 0 → code 1 gets no members
        (2, [5.0] * 64),
        (3, [9.0] * 64),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    init = S.pq_codebooks(df, m=4, k=2)
    refined = S.pq_refine_codebooks(df, init, m=4)
    assert [(s, c) for s, c, _ in refined] == [(s, c) for s, c, _ in init]
    assert all(len(v) == 16 for _, _, v in refined)
    by_key = {(s, c): v for s, c, v in refined}
    init_by_key = {(s, c): v for s, c, v in init}
    for s in range(4):
        # code 1 empty → carried over verbatim from init
        assert by_key[(s, 1)] == init_by_key[(s, 1)]
        # code 0 hosts all four rows → mean of (1, 1, 5, 9) = 4.0
        assert by_key[(s, 0)] == [4.0] * 16


def test_pq_adc_refine_iters_zero_is_the_sampling_init_path(spark):
    """A pq codec with refine_iters=0 (the default) trains exactly the
    sampling-init books, which drive encode and LUT directly; one
    Lloyd pass changes the ranking. Searched over one cell, so the ADC
    pass scores every corpus code."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 3)
    one_cell = S.coarse_quantizer(S.seed_centroids(emb, 1))

    def search(**dials):
        index, codec = S.build_ivf_index(
            emb, one_cell, S.Codec("pq", m=4, n_codes=16, **dials)
        )
        rows = _rows(
            S.ivf_search(index, q, one_cell, codec, k=5, n_probe=1),
            "query_id", "vec_id", "adc_dist",
        )
        return rows, codec.books

    a, books_a = search()
    b, books_b = search(refine_iters=0)
    assert a == b and len(a) == 15
    assert books_a == books_b == S.pq_codebooks(emb, m=4, k=16)
    # refined books change the ranking on the real fixture (the
    # refinement is not a no-op) while keeping the output shape
    c, _ = search(refine_iters=1)
    assert len(c) == 15 and c != a


# --- composed IVF + PQ (IVFADC) ----------------------------------------------


def test_ivf_pq_degenerates_to_pq_adc_when_probing_everything(spark):
    """n_probe == n_centroids probes every cell, so the cell
    restriction admits ALL (query, id) pairs and the 8-cell search must
    rank exactly like the plain PQ ADC scan — the one-cell index, over
    the same books (the books train on the corpus, not the cells) — the
    ivf_binary→binary degeneracy pin applied to the PQ axis."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 4)
    got = _rows(
        ivf_pq(emb, q, k=5, m=4, n_codes=16, n_centroids=8, n_probe=8),
        "query_id", "vec_id", "adc_dist",
    )
    want = _rows(
        ivf_pq(emb, q, k=5, m=4, n_codes=16, n_centroids=1, n_probe=1),
        "query_id", "vec_id", "adc_dist",
    )
    assert got == want and len(got) == 20


def test_ivf_pq_plan_is_broadcast_and_jvm_only(spark):
    """Probes and LUT both broadcast into the code stream; no Python
    eval nodes; the assignment→encode chain is one projection (no
    id-rejoin shuffle of corpus-sized sides: the only SortMergeJoin-
    eligible join keys would be the broadcast ones)."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 3)
    df = ivf_pq(emb, q, k=5, refine_iters=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_index_writers_cluster_one_file_per_bucket(spark, tmp_path):
    """Both standing-index writers repartition by their partition
    columns before the partitioned write, so each bucket directory
    holds ONE data file instead of tasks × buckets small files — the
    file-listing floor the r12 census measured (2048-bucket band build:
    250 s unclustered vs ~39 s clustered; every probe re-pays the
    listing otherwise)."""
    import glob

    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark).repartition(8)
    band_path = str(tmp_path / "bands")
    S.write_binary_band_index(emb, band_path, band_bits=4)
    for d in glob.glob(f"{band_path}/band_idx=*/band_val=*"):
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, d
    ivf_path = str(tmp_path / "ivf")
    S.write_ivf_index(emb, _cents(emb), ivf_path, S.Codec("binary"))
    for d in glob.glob(f"{ivf_path}/cent_id=*"):
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, d


def test_ivf_pq_indexed_requires_pq_layout(spark, tmp_path):
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    path = str(tmp_path / "plain")
    S.write_ivf_index(emb, _cents(emb), path)
    idx, _ = S.read_ivf_index(spark, path)
    q = emb.filter(F.col("vec_id") < 2)
    pq = S.Codec("pq", books=[(s, 0, [0.0] * 16) for s in range(4)])
    with pytest.raises(ValueError, match="lacks columns"):
        S.ivf_search(idx, q, _cents(emb), pq)


# --- r12 review guards: append codebook contract + layout validation --------


def test_append_reads_stored_codebooks_and_rejects_divergent(spark, tmp_path):
    """Growing a binary or pq index must encode the batch with the
    STORED codec (never re-train on the batch — that silently mixes
    codebooks); a codec naming a different representation raises BEFORE
    anything is written; sidecars are only written by builds."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    a = emb.filter(F.col("vec_id") < 300)
    b = emb.filter(F.col("vec_id") >= 300)
    quant = S.coarse_quantizer(_cents(emb))
    bin_path = str(tmp_path / "bin")
    S.write_ivf_index(a, quant, bin_path, S.Codec("binary"))
    _, bin0 = S.read_ivf_index(spark, bin_path)
    S.write_ivf_index(b, quant, bin_path, S.Codec("binary"), mode="append")
    idx, bin1 = S.read_ivf_index(spark, bin_path)
    assert bin1.thresholds == bin0.thresholds
    # the appended rows carry words in the ORIGINAL codebook: quantize
    # the full corpus at the stored thresholds and compare row-for-row
    want = _rows(S.binary_quantize(emb, thresholds=bin0.thresholds),
                 "vec_id", "w0", "w1")
    assert _rows(idx, "vec_id", "w0", "w1") == want

    pq_path = str(tmp_path / "pq")
    S.write_ivf_index(a, quant, pq_path, S.Codec("pq"))
    _, pq0 = S.read_ivf_index(spark, pq_path)
    S.write_ivf_index(b, quant, pq_path, S.Codec("pq"), mode="append")
    idx_pq, pq1 = S.read_ivf_index(spark, pq_path)
    assert pq1.books == pq0.books
    cols = ["vec_id"] + [f"code_{s}" for s in range(4)]
    assert _rows(idx_pq, *cols) == _rows(
        S.pq_encode(emb, pq0.books, 4), *cols
    )

    # representation mismatches raise before any write: an append
    # lacking the standing layout's codes would read back NULL words
    # and silently vanish from Hamming/ADC candidates
    n0 = idx.count()
    for codec in (S.Codec(), S.Codec("pq"), S.Codec("pq", residual=True)):
        with pytest.raises(ValueError, match="does not match the standing"):
            S.write_ivf_index(b, quant, bin_path, codec, mode="append")
    with pytest.raises(ValueError, match="does not match the standing"):
        S.write_ivf_index(b, quant, pq_path, S.Codec("binary"), mode="append")
    after, bin2 = S.read_ivf_index(spark, bin_path)
    assert after.count() == n0
    assert _rows(after, "vec_id", "w0", "w1") == want
    assert bin2.thresholds == bin0.thresholds


def test_band_index_append_contract_and_admission_layout_guard(
    spark, tmp_path
):
    """write_binary_band_index append: stored thresholds apply
    automatically, layout mismatches raise; and
    binary_incremental_admitted rejects a band width that doesn't
    match the standing index's layout (metadata-stamped by
    read_binary_band_index) — a misaligned width would silently admit
    near-duplicates."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "bands")
    S.write_binary_band_index(corpus, path, band_bits=4)
    idx, codec, bb = S.read_binary_band_index(spark, path)
    # append with an untrained codec: the stored codebook applies (equal
    # to the explicit-stored-thresholds append pinned in the earlier test)
    S.write_binary_band_index(batch, path, band_bits=4, mode="append")
    idx2, codec2, _ = S.read_binary_band_index(spark, path)
    assert codec2.thresholds == codec.thresholds
    assert idx2.count() == idx.count() + batch.count() * 16
    with pytest.raises(ValueError, match="layout"):
        S.write_binary_band_index(batch, path, band_bits=8, mode="append")
    with pytest.raises(ValueError, match="does not match the standing"):
        S.binary_incremental_admitted(idx, batch, codec, radius=15,
                                      band_bits=2)
