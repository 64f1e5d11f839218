"""Round-13 regression tests (VERDICT r12 "Next round" + r12 ADVICE):

- the PQ broadcast codebook: ``pq_encode`` and the
  ADC LUT ship the codebooks via a BroadcastExchange instead of plan
  literals — ZERO codeword literals at production dials (plan-asserted
  at m=16 × 256 codes × dim=512, where literals would inline 262k
  doubles and hit the Catalyst plan-size ceiling the IVF family
  documented); ``keep`` columns ride through the encode unchanged.
- ``pq_code_census`` (VERDICT r12 #5): the dup-collapse detector
  fires (top_code_share ≈ 1) on a copy-block corpus and stays silent
  on the regular fixture.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import ivf_pq

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --- PQ broadcast strategy (zero plan literals) ------------------------------


def test_pq_broadcast_keep_columns_ride_through(spark):
    """The encode must carry `keep` columns (the index build's vector,
    norm and cell) through unchanged, after the codes, without changing
    the codes."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark).withColumn("tag", F.col("vec_id") * 3)
    books = S.pq_codebooks(emb, 4, 16)
    a = S.pq_encode(emb, books, 4)
    b = S.pq_encode(emb, books, 4, keep=["embedding", "tag"])
    codes = [f"code_{s}" for s in range(4)]
    assert b.columns == ["vec_id", *codes, "embedding", "tag"]
    assert _rows(b, "vec_id", *codes) == _rows(a, "vec_id", *codes)
    src = {r["vec_id"]: (tuple(r["embedding"]), r["tag"]) for r in emb.collect()}
    got = {r["vec_id"]: (tuple(r["embedding"]), r["tag"]) for r in b.collect()}
    assert got == src


def test_pq_broadcast_plan_has_zero_literals_at_production_dials(spark):
    """At m=16 × 256 codes × dim=512 a literal plan would carry 131k
    codeword literals (262k at dim=1024) — past Catalyst's practical
    plan ceiling. The broadcast plan must be small, literal-free,
    JVM-only, and join the codebook via BroadcastExchange."""
    from hbase_taggregator_spark.operators import similarity as S

    M, K, DIM = 16, 256, 512
    sub = DIM // M
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: F.sin((F.col("id") + 1) * (i + 1)).cast("double"),
    )
    corpus = spark.range(200).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    marker = 0.123456789  # appears in every codeword; must NOT hit the plan
    books = [
        (s, c, [marker + 0.001 * s + 0.0001 * c] * sub)
        for s in range(M)
        for c in range(K)
    ]
    enc = S.pq_encode(corpus, books, M, dim=DIM)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "123456789" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan
    assert len(plan) < 50_000
    # the LUT side too
    q = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    lut = S._pq_lut(q, books, M, DIM, "query_id")
    lplan = lut._jdf.queryExecution().executedPlan().toString()
    assert "123456789" not in lplan and "Python" not in lplan


# --- IVFADC+R (rerank_k) ------------------------------------------------------


def test_ivf_pq_wide_rerank_degenerates_to_exact_l2(spark):
    """rerank_k >= corpus with every cell probed: the ADC shortlist
    covers every candidate, so the +R stage must return exact L2 top-k
    (the exact pass reads candidate vectors and norms from the index)."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5)
    wide = ivf_pq(
        emb, q, k=5, m=4, n_codes=16, n_centroids=16, n_probe=16,
        refine_iters=0, rerank_k=10_000,
    ).select("query_id", "vec_id")
    exact = S.l2_topk(emb, q, k=5).select("query_id", "vec_id")
    assert _rows(wide, "query_id", "vec_id") == _rows(
        exact, "query_id", "vec_id"
    )


# --- twolevel index build (VERDICT r12 #7) -------------------------------------


def test_twolevel_built_index_serves_identical_to_flat(spark, tmp_path):
    """A two-level quantizer's index at GUARANTEEING settings
    (n_super_probe = n_super — every super-cell probed, so the
    candidate set is the full centroid set and the argmin is exact)
    must produce the same (id -> cent_id) assignment as the flat
    build, and the index served off both layouts must return identical
    top-k rows."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    cents = emb.orderBy("vec_id").limit(16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    q = emb.filter(F.col("vec_id") < 5)
    flat_path = str(tmp_path / "flat")
    tl_path = str(tmp_path / "tl")
    quant = S.coarse_quantizer(cents)
    S.write_ivf_index(emb, quant, flat_path)
    S.write_ivf_index(
        emb,
        S.coarse_quantizer(cents, two_level=True, n_super=4, n_super_probe=4),
        tl_path,
    )
    flat, _ = S.read_ivf_index(spark, flat_path)
    tl, _ = S.read_ivf_index(spark, tl_path)
    assert _rows(tl, "vec_id", "cent_id") == _rows(flat, "vec_id", "cent_id")
    a = S.ivf_search(flat, q, quant, k=5, n_probe=4)
    b = S.ivf_search(tl, q, quant, k=5, n_probe=4)
    assert _rows(b, *b.columns) == _rows(a, *a.columns)


# --- dup-collapse detector ----------------------------------------------------


def test_pq_code_census_fires_on_copy_blocks_and_not_on_regular(spark):
    """VERDICT r12 #5: the detector must make the dup-heavy collapse
    observable. A corpus of N copies of ONE vector (jittered ids only)
    encodes every row to the same code per subspace → top_code_share =
    1.0 and n_codes_used = 1 in every subspace after refinement pulls
    the codewords together; the regular fixture spreads codes."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _emb(spark)
    books = S.pq_codebooks(emb, 4, 16)
    regular = S.pq_code_census(S.pq_encode(emb, books, 4), m=4)
    reg = {r["s"]: r for r in regular.collect()}
    assert set(reg) == {0, 1, 2, 3}
    assert all(r["n_codes_used"] > 1 for r in reg.values())
    assert all(r["top_code_share"] < 0.9 for r in reg.values())

    one = emb.orderBy("vec_id").limit(1).select("embedding")
    dups = spark.range(500).crossJoin(one).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    # codebooks trained on the dup corpus: refinement collapses to the
    # block mean — the r12 failure mode reproduced in miniature
    dbooks = S.pq_refine_codebooks(dups, S.pq_codebooks(dups, 4, 16), 4)
    census = S.pq_code_census(S.pq_encode(dups, dbooks, 4), m=4)
    rows = {r["s"]: r for r in census.collect()}
    assert all(r["top_code_share"] == 1.0 for r in rows.values())
    assert all(r["n_codes_used"] == 1 for r in rows.values())
