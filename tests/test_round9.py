"""Round-9 regression tests (VERDICT r8 "Next round" + ADVICE):

- the two-level assignment's rank window runs KEY-ONLY — no
  single-partition exchange ever carries the centroid vectors (the last
  spot the full payload could converge on one task);
- ``n_probe > 1`` on the two-level path (the family's one declared API
  hole) — same single-shuffle topology, map-side-partial collect_list
  top-k, pinned against a pure-Python reference AND against flat
  assignment under full probing;
- a bucketed super-cell layout removes the corpus-side Exchange from
  the assignment join (the amortization the docstring promises);
- the arrow strategy preserves the centroid frame's cent_id type
  (r8 ADVICE: no silent int→bigint widening at the auto threshold);
- embedding_standardize clamps variance before the sqrt (r8 ADVICE:
  constant dimensions no longer produce NaN stds / oracle divergence);
- the HLL++ error-bound gate returns a verdict instead of raising on a
  zero exact count (r8 ADVICE: ANSI division guard).
"""

from __future__ import annotations

import math
import os
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import ivf_assign_as
from hbase_taggregator_spark import plans as P

SF = "/root/testdata/sf0.001"


def _toy_vectors(spark, n=40, dim=8):
    rows = [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# --- two-level: key-only rank window (VERDICT r8 "What's wrong" #1) ---------


def test_two_level_single_partition_exchanges_are_key_only(spark):
    """Every Exchange SinglePartition in the two-level plan must carry
    ONLY metadata-scale key columns — never the centroid vectors (cvec /
    __cv) and never the corpus vectors. r8's form ranked a frame that
    still carried cvec, funneling the full centroid payload through one
    task at exactly the nlist > 2^18 regime the path exists for."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    # the window lives in the super-centroid subplan (ivf_assign
    # materializes supers eagerly, so the assignment output plan never
    # contains it) — assert on that plan directly
    supers = S._super_centroids(cents, n_super=14, nlist=200)
    text = P.formatted_plan(supers)
    # formatted sections: "(N) Exchange\nInput [k]: [...]\nArguments: ..."
    sections = text.split("\n\n")
    singles = [
        s for s in sections
        if s.strip().split("\n")[0].endswith("Exchange")
        and "SinglePartition" in s
    ]
    assert singles, "expected the rank window's SinglePartition exchange"
    for s in singles:
        for payload in ("cvec#", "__cv#", "embedding#"):
            assert payload not in s, (
                f"single-partition exchange carries {payload}:\n{s}"
            )
    # and the end-to-end assignment still works on top of it
    out = S.ivf_assign_two_level(emb, cents, n_super=14, n_super_probe=3)
    assert out.count() > 0


# --- two-level n_probe > 1 (closes the r8-declared API hole) ----------------


def _py_two_level(vecs, cvecs, n_super, n_super_probe, n_probe):
    """Independent pure-Python two-level reference (plain float math —
    the fixtures have no near-ties, so float vs decimal cannot flip a
    ranking): block means, nearest-super membership, probing, exact
    candidate top-n_probe."""
    nlist = len(cvecs)
    dim = len(next(iter(cvecs.values())))

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    order = sorted(cvecs)
    blocks = {cid: (rank * n_super) // nlist for rank, cid in enumerate(order)}
    supers = {}
    for b in range(n_super):
        mv = [cvecs[c] for c, blk in blocks.items() if blk == b]
        if mv:
            supers[b] = [
                sum(v[d] for v in mv) / len(mv) for d in range(dim)
            ]
    member_of = {
        c: min(supers, key=lambda b: (-cos(cvecs[c], supers[b]), b))
        for c in cvecs
    }
    expected = {}
    for vid, v in vecs.items():
        probed = sorted(
            supers, key=lambda b: (-cos(v, supers[b]), b)
        )[:n_super_probe]
        cands = [c for c in cvecs if member_of[c] in probed]
        top = sorted(cands, key=lambda c: (-cos(v, cvecs[c]), c))[:n_probe]
        if top:
            expected[vid] = top
    return expected


def test_two_level_n_probe_2_matches_python_reference(spark):
    from hbase_taggregator_spark.operators import similarity as S

    n, dim, nlist, n_super, n_super_probe, n_probe = 60, 8, 12, 4, 2, 2
    emb = _toy_vectors(spark, n=n, dim=dim)
    cents = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    got: dict[int, list[int]] = {}
    rows = (
        S.ivf_assign_two_level(
            emb, cents, n_super=n_super, n_super_probe=n_super_probe,
            n_probe=n_probe,
        )
        .collect()
    )
    for r in rows:
        got.setdefault(r["vec_id"], []).append(r["cent_id"])
    for v in got.values():
        v.sort()

    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    cvecs = {i: vecs[i] for i in range(nlist)}
    expected = _py_two_level(vecs, cvecs, n_super, n_super_probe, n_probe)
    assert got == {k: sorted(v) for k, v in expected.items()}


def test_two_level_full_probe_topk_equals_flat_assignment(spark):
    """With every super-cell probed the candidate set is ALL centroids,
    so two-level top-k must equal the flat (exact) assignment's top-k —
    membership AND multiplicity."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _toy_vectors(spark, n=50, dim=8)
    cents = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    two = sorted(
        (r["vec_id"], r["cent_id"])
        for r in S.ivf_assign_two_level(
            emb, cents, n_super=4, n_super_probe=4, n_probe=3
        ).collect()
    )
    flat = sorted(
        (r["vec_id"], r["cent_id"])
        for r in ivf_assign_as("expr", emb, cents, n_probe=3).collect()
    )
    assert two == flat and len(two) == 50 * 3


def test_ivf_assign_twolevel_passthrough_accepts_n_probe(spark):
    from hbase_taggregator_spark.operators import similarity as S

    emb = _toy_vectors(spark, n=20, dim=8)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    out = S.ivf_assign(
        emb, S.coarse_quantizer(cents, two_level=True), n_probe=2
    )
    counts = [r["n"] for r in out.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n")).collect()]
    assert counts and all(c <= 2 for c in counts)


# --- bucketed super-cell layout amortization (VERDICT r8 task #7) -----------


def test_two_level_bucketed_corpus_joins_without_corpus_exchange(spark):
    """A standing deployment buckets the probe-stamped corpus on the
    super-cell key ONCE; every subsequent assignment join then plans NO
    corpus-side Exchange — only the metadata-scale members side still
    shuffles. Asserted by comparing hash-exchange counts for the same
    merge join over a plain vs a bucketed probes table."""
    from hbase_taggregator_spark.operators import similarity as S

    wh = os.path.abspath("spark-warehouse")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    members, probes = S.two_level_parts(emb, cents, n_super=8, n_super_probe=2)
    for t in ("b_probes", "p_probes", "p_members"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        members.write.mode("overwrite").saveAsTable("p_members")
        probes.write.mode("overwrite").saveAsTable("p_probes")
        (probes.write.bucketBy(8, "__sid").sortBy("__sid")
         .mode("overwrite").saveAsTable("b_probes"))
        m = spark.table("p_members").hint("merge")

        def n_hash_exchanges(df):
            return P.physical_plan(df).count("Exchange hashpartitioning")

        plain = spark.table("p_probes").join(m, "__sid")
        bucketed = spark.table("b_probes").join(m, "__sid")
        assert n_hash_exchanges(plain) == 2, P.physical_plan(plain)[:2000]
        assert n_hash_exchanges(bucketed) == 1, (
            P.physical_plan(bucketed)[:2000]
        )
        assert bucketed.count() == plain.count() > 0
    finally:
        for t in ("b_probes", "p_probes", "p_members"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(wh, ignore_errors=True)


# --- arrow strategy preserves cent_id type (r8 ADVICE) -----------------------


def test_arrow_assign_preserves_cent_id_type(spark):
    """Crossing ARROW_ASSIGN_MIN_NLIST must not change
    the output schema: an int cent_id stays int (r8 hardcoded int64 →
    silent widening), and non-integral cent_ids work on the arrow path
    exactly as they do on expr."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _toy_vectors(spark, n=30, dim=8)
    cents_int = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").cast("int").alias("cent_id"),
        F.col("embedding").alias("cvec"),
    )
    for strat in ("expr", "arrow"):
        out = ivf_assign_as(strat, emb, cents_int, n_probe=1)
        assert dict(out.dtypes)["cent_id"] == "int", (strat, out.dtypes)

    cents_str = emb.filter(F.col("vec_id") < 6).select(
        F.concat(F.lit("c"), F.col("vec_id")).alias("cent_id"),
        F.col("embedding").alias("cvec"),
    )
    got = {
        (r["vec_id"], r["cent_id"])
        for r in ivf_assign_as("arrow", emb, cents_str, n_probe=1).collect()
    }
    want = {
        (r["vec_id"], r["cent_id"])
        for r in ivf_assign_as("expr", emb, cents_str, n_probe=1).collect()
    }
    assert got == want and all(
        isinstance(c, str) and c.startswith("c") for _, c in got
    )


def test_arrow_expr_agree_across_auto_threshold(spark):
    """The exact strategies must produce IDENTICAL rows (values AND
    schema) for the same input regardless of which side of the auto
    threshold executes."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _toy_vectors(spark, n=40, dim=8)
    cents = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    a = ivf_assign_as("arrow", emb, cents, n_probe=2)
    e = ivf_assign_as("expr", emb, cents, n_probe=2)
    # dtypes (names + types) must agree; nullability legitimately differs
    # (explode of a UDF-produced array vs element_at of a literal)
    assert a.dtypes == e.dtypes
    assert sorted((r["vec_id"], r["cent_id"]) for r in a.collect()) == sorted(
        (r["vec_id"], r["cent_id"]) for r in e.collect()
    )


# --- standardize: variance clamp on constant dimensions (r8 ADVICE) ---------

#: a float32-representable constant whose decimal-rounded moments make
#: the UNCLAMPED variance (sxx − sx²/n)/n land at ≈ −6.3e-13 for n=10:
#: sqrt of that is NaN on the Spark side and an ANSI error in the
#: oracle's CAST(FLOOR(NaN) AS BIGINT). Found by brute force over the
#: exact DECIMAL(28,12) HALF_UP algebra both engines share.
_NEGVAR_CONST = -0.48959648609161377


def test_standardize_constant_dimension_is_zero_and_oracle_parity(
    spark, tmp_path
):
    """A constant dimension must standardize to 0 — including when
    decimal rounding pushes the computed variance a hair NEGATIVE (the
    r8 form produced std = NaN there: Spark's NaN > 0 is TRUE, so the
    zero-branch was skipped, and the DuckDB oracle CRASHED on
    CAST(FLOOR(NaN..) AS BIGINT)). Runs the registered gate query AND
    its oracle over a fixture where every vector is identical, with one
    dimension pinned at the brute-forced negative-variance constant."""
    import duckdb

    from hbase_taggregator_spark import catalog as Q

    dim = 64
    base = [
        float(((j * 13) % 19) - 9) / 19.0 if j != 3 else _NEGVAR_CONST
        for j in range(dim)
    ]
    rows = [(i, base) for i in range(10)]  # identical ⇒ EVERY dim constant
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "embeddings.parquet"))

    out = {
        r["vec_id"]: (r["n_dims"], r["z_l1"], r["z_checksum"])
        for r in Q.QUERIES["embedding_standardize_checksums"](
            spark, sf_dir
        ).collect()
    }
    assert out == {i: (dim, 0, 0) for i in range(10)}

    con = duckdb.connect()
    glob = os.path.join(sf_dir, "embeddings.parquet", "*.parquet")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{glob}')"
    )
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            Q.ORACLES["embedding_standardize_checksums"]
        ).fetchall()
    }
    assert oracle == out


# --- HLL gate: zero exact count returns a verdict, not an ANSI error --------


def test_hll_gate_empty_table_returns_verdict(spark, tmp_path):
    """On an empty lineitem the exact distinct counts are 0; the
    relative-error division must be guarded (ANSI would raise) and the
    degenerate verdict is exact equality — TRUE for an empty sketch."""
    from hbase_taggregator_spark import catalog as Q

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [], "l_partkey long, l_suppkey long, l_orderkey long"
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "lineitem.parquet"))
    row = Q.QUERIES["approx_distinct_lineitem"](spark, sf_dir).collect()[0]
    assert (row["n_parts_exact"], row["n_supps_exact"], row["n_orders_exact"]) \
        == (0, 0, 0)
    assert row["parts_within_bound"] is True
    assert row["supps_within_bound"] is True
    assert row["orders_within_bound"] is True


# --- JL random projection & Matryoshka truncate-renorm (r9 additions) -------


def test_random_projection_matches_decimal_mirror(spark):
    """Pin the projected values bit-for-bit against a pure-Python mirror
    of the decimal dot algebra (products quantized to DECIMAL(18,12)
    HALF_UP on the shortest repr, exact sum, one IEEE division by
    sqrt(out_dim)) — the _py_negcos discipline applied to the
    projection."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from hbase_taggregator_spark.operators import similarity as S

    dim, out_dim = 8, 4
    emb = _toy_vectors(spark, n=12, dim=dim)
    rows = {
        r["vec_id"]: list(r["projected"])
        for r in S.random_projection(
            emb, out_dim=out_dim, dim=dim
        ).collect()
    }
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    q12 = Decimal("1E-12")
    scale = math.sqrt(out_dim)
    for vid, v in vecs.items():
        for j in range(out_dim):
            signs = S._rp_signs(j, dim)
            s = Decimal(0)
            for x, w in zip(v, signs):
                s += Decimal(repr(float(x) * w)).quantize(
                    q12, rounding=ROUND_HALF_UP
                )
            assert rows[vid][j] == float(s) / scale, (vid, j)


def test_random_projection_shape_and_filters(spark):
    from hbase_taggregator_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(1, [0.5] * 64), (2, None), (3, [0.5] * 10)],
        "vec_id long, embedding array<float>",
    )
    out = S.random_projection(emb, out_dim=16).collect()
    assert [r["vec_id"] for r in out] == [1]
    assert len(out[0]["projected"]) == 16


def test_truncate_renorm_unit_norm_and_drops(spark):
    """Truncated prefixes renormalize to unit L2; NULL / short /
    zero-prefix-norm vectors drop (ANSI: the division must never see a
    zero denominator)."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [
            (1, [3.0, 4.0, 9.0, 9.0]),        # prefix (3,4): norm 5
            (2, [0.0, 0.0, 1.0, 1.0]),        # zero prefix norm -> drop
            (3, None),                         # NULL -> drop
            (4, [1.0]),                        # shorter than k -> drop
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: list(r["truncated"])
        for r in S.truncate_renorm(emb, k=2).collect()
    }
    assert list(out) == [1]
    u = out[1]
    assert abs(u[0] - 0.6) < 1e-12 and abs(u[1] - 0.8) < 1e-12
    assert abs(sum(x * x for x in u) - 1.0) < 1e-12


def test_null_element_vectors_drop_on_both_new_operators(spark, tmp_path):
    """Vectors containing NULL elements must DROP symmetrically: SQL SUM
    skips NULLs where Spark's decimal aggregate NULL-poisons, so keeping
    such rows would diverge engine-vs-oracle. Pinned end-to-end: Spark
    gate and DuckDB oracle over a fixture with a NULL-element vector, a
    prefix-NULL vector, and a clean vector."""
    import os

    import duckdb

    from hbase_taggregator_spark import catalog as Q

    base = [float(((j * 13) % 19) - 9) / 19.0 for j in range(64)]
    null_mid = list(base)
    null_mid[2] = None          # NULL inside the 16-prefix
    null_tail = list(base)
    null_tail[40] = None        # NULL outside the 16-prefix
    rows = [(1, base), (2, null_mid), (3, null_tail)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "embeddings.parquet"))

    con = duckdb.connect()
    glob = os.path.join(sf_dir, "embeddings.parquet", "*.parquet")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{glob}')"
    )

    # random projection: ANY null element drops the vector, both sides
    got = {
        r["vec_id"]
        for r in Q.QUERIES["embedding_random_projection_checksums"](
            spark, sf_dir
        ).collect()
    }
    ora = {
        r[0]
        for r in con.execute(
            Q.ORACLES["embedding_random_projection_checksums"]
        ).fetchall()
    }
    assert got == ora == {1}

    # truncate-renorm: only a PREFIX null drops; a tail null is fine
    got = {
        r["vec_id"]
        for r in Q.QUERIES["embedding_truncate_renorm_checksums"](
            spark, sf_dir
        ).collect()
    }
    ora = {
        r[0]
        for r in con.execute(
            Q.ORACLES["embedding_truncate_renorm_checksums"]
        ).fetchall()
    }
    assert got == ora == {1, 3}


def test_kmeans_refine_threads_twolevel_sizing(spark, monkeypatch):
    """kmeans_refine must pass n_super / n_super_probe through to the
    two-level assignment (r9 self-review: the passthrough dropped them,
    pinning Lloyd at the defaults)."""
    from hbase_taggregator_spark.operators import similarity as S

    seen = {}
    orig = S.ivf_assign_two_level

    def spy(df, cents, **kw):
        seen.update(kw)
        return orig(df, cents, **kw)

    monkeypatch.setattr(S, "ivf_assign_two_level", spy)
    emb = _toy_vectors(spark, n=30, dim=8)
    init = emb.filter(F.col("vec_id") < 9).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    out = S.kmeans_refine(
        emb, init, n_iter=1, two_level=True, n_super=3, n_super_probe=2
    )
    assert out.count() > 0
    assert seen["n_super"] == 3 and seen["n_super_probe"] == 2


# --- hypothesis: the new embedding operators on random float32 vectors ------

try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _vec8 = st.lists(
        st.floats(min_value=-1.0, max_value=1.0, width=32), min_size=8,
        max_size=8,
    )

    @settings(max_examples=5, deadline=None)
    @given(vecs=st.lists(_vec8, min_size=3, max_size=8))
    def test_random_projection_decimal_mirror_on_random_vectors(spark, vecs):
        """Property pin: on arbitrary float32 vectors (tiny magnitudes
        stress the DECIMAL(18,12) quantization; zeros are fair game —
        ±1 products keep everything exact), the projected doubles must
        equal the pure-Python decimal mirror bit-for-bit."""
        import math
        from decimal import ROUND_HALF_UP, Decimal

        from hbase_taggregator_spark.operators import similarity as S

        dim, out_dim = 8, 3
        rows = [(i, v) for i, v in enumerate(vecs)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        got = {
            r["vec_id"]: list(r["projected"])
            for r in S.random_projection(
                emb, out_dim=out_dim, dim=dim
            ).collect()
        }
        q12 = Decimal("1E-12")
        scale = math.sqrt(out_dim)
        for i, v in enumerate(vecs):
            import numpy as np

            v32 = [float(np.float32(x)) for x in v]
            for j in range(out_dim):
                s = Decimal(0)
                for x, w in zip(v32, S._rp_signs(j, dim)):
                    s += Decimal(repr(x * w)).quantize(
                        q12, rounding=ROUND_HALF_UP
                    )
                assert got[i][j] == float(s) / scale, (i, j)

    @settings(max_examples=5, deadline=None)
    @given(vecs=st.lists(_vec8, min_size=3, max_size=8))
    def test_truncate_renorm_matches_decimal_mirror_on_random_vectors(
        spark, vecs
    ):
        """Bit-exact property pin of the full contract: the prefix norm
        is sqrt(double(Σ DECIMAL(18,12)-quantized squares)) and every
        surviving component is exactly prefix_i / nk; vectors whose
        DECIMAL norm quantizes to ZERO drop — hypothesis found the
        sub-quantum edge (components ~1e-16 square below the 1e-12
        quantum, so the exact-decimal norm is 0 even though the floats
        aren't), which is precisely the zero-norm ANSI contract the
        operator documents and the oracle mirrors."""
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np

        from hbase_taggregator_spark.operators import similarity as S

        k = 4
        q12 = Decimal("1E-12")
        rows = [(i, v) for i, v in enumerate(vecs)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        got = {
            r["vec_id"]: list(r["truncated"])
            for r in S.truncate_renorm(emb, k=k).collect()
        }
        for i, v in enumerate(vecs):
            prefix = [float(np.float32(x)) for x in v[:k]]
            dsum = sum(
                (
                    Decimal(repr(x * x)).quantize(q12, rounding=ROUND_HALF_UP)
                    for x in prefix
                ),
                Decimal(0),
            )
            nk = math.sqrt(float(dsum))
            if nk == 0.0:
                assert i not in got, (
                    "zero DECIMAL-norm prefix must drop (ANSI contract)"
                )
                continue
            assert got[i] == [x / nk for x in prefix], (i, prefix, nk)
