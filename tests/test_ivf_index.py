"""The IVF index: one build (``build_ivf_index``, persisted by
``write_ivf_index``) and one search (``ivf_search``) for every codec.

- searching the in-memory built frame and searching the written-then-read
  index return the same rows for each codec — flat, binary, pq, residual
  pq and pq with the exact re-rank — with the persisted first pass
  dynamic-partition-pruned to the probed cells and column-pruned to the
  codec's words or codes;
- a residual codec cannot be searched without exactly its cell means;
- a prebuilt two-level quantizer must carry exactly the dials an entry
  point is given;
- the binary band index persists its codec through the IVF index's
  sidecars, and an append to either index passes one check before the
  first byte is written: no standing index, or a trained codebook that
  differs from the stored one, raises.
"""

from __future__ import annotations

import dataclasses
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE as SF

#: codec dials and rerank depth per case; the output score column
_CASES = {
    "flat": (dict(), None, "cosine"),
    "binary": (dict(kind="binary"), 20, "cosine"),
    "pq": (dict(kind="pq", refine_iters=1), None, "adc_dist"),
    "pq_residual": (
        dict(kind="pq", refine_iters=1, residual=True), None, "adc_dist"
    ),
    "pq_rerank": (dict(kind="pq", refine_iters=1), 20, "d2"),
}


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("case", list(_CASES))
def test_in_memory_and_persisted_search_agree(spark, tmp_path, case):
    from hbase_taggregator_spark.operators import similarity as S

    spec, rerank_k, score = _CASES[case]
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5)
    quant = S.coarse_quantizer(S.seed_centroids(emb, 16))
    index, codec = S.build_ivf_index(emb, quant, S.Codec(**spec))
    mem = S.ivf_search(
        index, q, quant, codec, k=5, n_probe=4, rerank_k=rerank_k
    )
    assert mem.columns == ["query_id", "vec_id", score]

    path = str(tmp_path / case)
    written = S.write_ivf_index(emb, quant, path, S.Codec(**spec))
    idx, stored = S.read_ivf_index(spark, path)
    assert set(idx.columns) == {
        "vec_id", "embedding", "nrm", "cent_id", *codec.columns
    }
    assert dict(idx.dtypes)["cent_id"] == "bigint"
    assert idx.count() == emb.count()
    # the sidecars round-trip the trained codec exactly
    assert (stored.kind, stored.residual, stored.columns) == (
        codec.kind, codec.residual, codec.columns
    )
    assert stored.thresholds == written.thresholds == codec.thresholds
    assert stored.books == written.books == codec.books
    if codec.residual:
        assert _rows(stored.means) == _rows(codec.means)

    served = S.ivf_search(
        idx, q, quant, stored, k=5, n_probe=4, rerank_k=rerank_k
    )
    assert served.columns == mem.columns
    assert _rows(served) == _rows(mem) and len(_rows(mem)) == 25

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, "index scan not partition-pruned"
    assert "Python" not in plan
    if codec.columns:
        # the first pass reads words/codes only, never the float payload
        schemas = re.findall(r"ReadSchema: (\S+)", plan)
        assert any(
            codec.columns[0] in s and "embedding" not in s for s in schemas
        ), schemas


def test_residual_codec_requires_exactly_its_means(spark):
    """Residual codes scored without their cell means (or a codec that
    claims plain codes while carrying means) would rank in the wrong
    frame — the search refuses both before planning anything."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 3)
    quant = S.coarse_quantizer(S.seed_centroids(emb, 16))
    index, codec = S.build_ivf_index(
        emb, quant, S.Codec("pq", residual=True)
    )
    for bad in (
        dataclasses.replace(codec, means=None),
        dataclasses.replace(codec, residual=False),
    ):
        with pytest.raises(ValueError, match="cell means"):
            S.ivf_search(index, q, quant, bad)
    with pytest.raises(ValueError, match="requires kind='pq'"):
        S.Codec("binary", residual=True)


def test_residual_build_accepts_ids_with_an_exact_long_cast(spark):
    """Residual training keys its fused means+sample collect by a long cast
    of the id: a decimal(10,0) id trains the same codec and codes as the
    bigint id, and ids whose cast could NULL or truncate are refused."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    quant = S.coarse_quantizer(S.seed_centroids(emb, 16))
    spec = S.Codec("pq", refine_iters=1, residual=True)
    want_index, want = S.build_ivf_index(emb, quant, spec)
    dec = emb.withColumn("vec_id", F.col("vec_id").cast("decimal(10,0)"))
    index, got = S.build_ivf_index(dec, quant, spec)
    assert got.books == want.books
    as_long = index.withColumn("vec_id", F.col("vec_id").cast("long"))
    assert _rows(as_long) == _rows(want_index)
    for bad in ("decimal(19,0)", "decimal(10,2)", "double", "string"):
        ids = emb.withColumn("vec_id", F.col("vec_id").cast(bad))
        with pytest.raises(ValueError, match="requires an integral 'vec_id'"):
            S.build_ivf_index(ids, quant, spec)


def test_two_level_dials_must_equal_the_quantizers(spark):
    """A two-level quantizer built with n_super=10 must not pass silently
    when n_super=20 is requested (a smaller super set probes fewer cells
    than asked for); equal dials are accepted."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    cents = S.seed_centroids(emb, 64)
    quant = S.coarse_quantizer(
        cents, two_level=True, n_super=10, n_super_probe=4
    )
    for n_super, n_super_probe in ((20, 4), (10, 2), (None, 4)):
        with pytest.raises(ValueError, match="built with n_super=10"):
            S.ivf_assign_two_level(
                emb, cents, n_super=n_super, n_super_probe=n_super_probe,
                shared=quant,
            )
        with pytest.raises(ValueError, match="built with n_super=10"):
            S.two_level_parts(
                emb, cents, n_super=n_super, n_super_probe=n_super_probe,
                shared=quant,
            )
    with pytest.raises(ValueError, match="flat"):
        S.ivf_assign_two_level(
            emb, cents, shared=S.coarse_quantizer(cents)
        )
    got = S.ivf_assign_two_level(
        emb, cents, n_super=10, n_super_probe=4, shared=quant
    )
    assert 0 < got.count() <= emb.count()


def test_band_index_persists_its_codec_in_the_ivf_sidecars(spark, tmp_path):
    """The band index's stored codec reads back through the IVF index's
    codec reader, exactly as written."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    path = str(tmp_path / "bands")
    S.write_binary_band_index(emb, path, band_bits=4)
    _, codec, band_bits = S.read_binary_band_index(spark, path)
    assert band_bits == 4
    assert codec.kind == "binary" and codec.dim == 64
    assert codec.thresholds == S.dimension_means(emb)
    assert S._read_codec(spark, path).thresholds == codec.thresholds


def test_append_without_a_standing_band_index_raises(spark, tmp_path):
    """An append to a path holding no band index is a missing build: it
    raises ValueError (as write_ivf_index does) before writing anything,
    instead of failing inside Spark on the absent layout sidecar."""
    import os

    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    path = str(tmp_path / "nothing_here")
    with pytest.raises(ValueError, match="no standing index"):
        S.write_binary_band_index(emb, path, band_bits=4, mode="append")
    assert not os.path.exists(path)


def test_append_rejects_a_divergent_trained_codebook(spark, tmp_path):
    """A trained codec given to an append must equal the stored one:
    other thresholds (band index) or other books (pq IVF index) raise
    and leave the standing index untouched; the stored codec itself
    passes."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    a = emb.filter(F.col("vec_id") < 300)
    b = emb.filter(F.col("vec_id") >= 300)
    bands = str(tmp_path / "bands")
    S.write_binary_band_index(a, bands, band_bits=4)
    _, stored, _ = S.read_binary_band_index(spark, bands)
    sign = S.Codec("binary", thresholds=[0.0] * 64)
    with pytest.raises(ValueError, match="differs from the standing"):
        S.write_binary_band_index(b, bands, sign, band_bits=4, mode="append")
    n0 = spark.read.parquet(bands).count()
    S.write_binary_band_index(b, bands, stored, band_bits=4, mode="append")
    assert spark.read.parquet(bands).count() == n0 + b.count() * 16

    quant = S.coarse_quantizer(S.seed_centroids(emb, 16))
    ivf = str(tmp_path / "pq")
    books = S.write_ivf_index(a, quant, ivf, S.Codec("pq")).books
    moved = [(s, code, [v + 1.0 for v in vals]) for s, code, vals in books]
    with pytest.raises(ValueError, match="differs from the standing"):
        S.write_ivf_index(
            b, quant, ivf, S.Codec("pq", books=moved), mode="append"
        )
    assert S.read_ivf_index(spark, ivf)[0].count() == a.count()
