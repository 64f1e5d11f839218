"""Round-7 regression tests: the r6 ADVICE fixes (minhash internal-name
capture, pagerank lifecycle), the ivf_assign strategy split (expr vs
Arrow must be output-identical, including on exact centroid ties), the
cell-capped SemDeDup gate query's sizing algebra, and the catalog-level
xxhash64 bit-rot smoke (VERDICT r6 task #8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import ivf_assign_as

SF = "/root/testdata/sf0.001"


# --- minhash: internal column names cannot capture a caller's id_col -------


@pytest.mark.parametrize("clash_name", ["s", "lo", "hi", "h0"])
def test_minhash_id_col_clashing_names_not_captured(spark, clash_name):
    """r6 ADVICE (completed r7): every internal column of the signature
    builder is dunder-named ('s' was the r6 fix; 'lo'/'hi'/'h{i}' were
    still capturable after it). A caller id column using any of those
    names must produce signatures identical to the same data under an
    innocuous id name."""
    from hbase_taggregator_spark.operators.dedup import minhash_signatures

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "another document with distinct words entirely"),
    ]
    plain = spark.createDataFrame(rows, "doc_id long, text string")
    clash = spark.createDataFrame(rows, f"{clash_name} long, text string")
    for fn in ("md5", "xxhash64"):
        want = sorted(
            tuple(r) for r in minhash_signatures(plain, hash_fn=fn).collect()
        )
        got = sorted(
            tuple(r)
            for r in minhash_signatures(
                clash, id_col=clash_name, hash_fn=fn
            ).collect()
        )
        assert got == want, fn


# --- pagerank: no persists left behind (r6 ADVICE lifecycle) ----------------


def test_pagerank_takes_no_persists_by_default(spark):
    """r7 drops the derived-invariant persists (they cost more than they
    saved and accumulated executor storage across per-subgraph loops);
    only the single edge-list localCheckpoint remains on the DEFAULT
    path. r8 adds the opt-in ``persist_invariants`` escape hatch for
    multi-executor deployments (ADVICE) — every persist in the source
    must sit behind that flag."""
    import inspect

    from hbase_taggregator_spark.operators import graph

    src = inspect.getsource(graph.pagerank)
    assert src.count(".localCheckpoint()") == 1
    for i, line in enumerate(lines := src.splitlines()):
        if ".persist(" in line:
            guarded = any(
                "if persist_invariants:" in prev for prev in lines[max(0, i - 3) : i]
            )
            assert guarded, f"unguarded persist at pagerank source line {i}: {line}"


# --- ivf_assign: strategies are output-identical ---------------------------


def _toy_vectors(spark, n=40, dim=8):
    rows = [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.parametrize("n_probe", [1, 2])
def test_ivf_assign_expr_and_arrow_identical(spark, n_probe):
    emb = _toy_vectors(spark)
    cents = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    out = {}
    for strategy in ("expr", "arrow"):
        rows = ivf_assign_as(strategy, emb, cents, n_probe=n_probe).collect()
        out[strategy] = sorted((r["vec_id"], r["cent_id"]) for r in rows)
        assert len(rows) == 40 * n_probe
    assert out["expr"] == out["arrow"]


def test_ivf_assign_tie_falls_back_to_exact_on_both_strategies(spark):
    """Two byte-identical centroids under different ids give every row a
    zero fast-ranking gap — both strategies must route through the exact
    fallback and deterministically pick the LOWER centroid id."""
    emb = _toy_vectors(spark, n=10)
    base = emb.filter(F.col("vec_id") == 3).select("embedding").collect()[0][0]
    cents = spark.createDataFrame(
        [(7, list(base)), (9, list(base))],
        "cent_id long, cvec array<float>",
    )
    for strategy in ("expr", "arrow"):
        rows = ivf_assign_as(strategy, emb, cents, n_probe=1).collect()
        assert {r["cent_id"] for r in rows} == {7}, strategy


def test_ivf_assign_auto_threshold_picks_expr_for_small_sets(spark):
    """auto = expr below ARROW_ASSIGN_MIN_NLIST: the plan must contain no
    Python eval node (the recall-gate queries rely on this to keep the
    audited zero-Python property at their nlist=16..32)."""
    from hbase_taggregator_spark.operators.similarity import ivf_assign

    emb = _toy_vectors(spark)
    cents = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    plan = (
        ivf_assign(emb, cents, n_probe=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" not in plan and "Python" not in plan


def test_ivf_assign_arrow_handles_null_vectors(spark):
    """NULL vectors must not crash the Arrow batch and must land exactly
    where the expr path lands them (pre-existing contract: a NULL vector
    yields NULL fast cosines everywhere, routes through the exact
    fallback, and deterministically sorts to the lowest-id centroid —
    null negcos orders first)."""
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])], schema
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.1]), (20, [0.1, 1.0])], "cent_id long, cvec array<float>"
    )
    for strategy in ("expr", "arrow"):
        rows = ivf_assign_as(strategy, emb, cents, n_probe=1).collect()
        assert sorted((r["vec_id"], r["cent_id"]) for r in rows) == [
            (1, 10),
            (2, 10),
            (3, 20),
        ], strategy


def test_ivf_assign_arrow_handles_ragged_vectors(spark):
    """Empty and dimension-mismatched vectors must not crash the Arrow
    batch (np.stack needs a rectangular batch) and must land exactly
    where the expr path lands them — both route through the exact
    fallback, keeping the strategies output-identical."""
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, []),  # empty
            (3, [0.5, 0.5, 0.5]),  # wrong dimension
            (4, [0.0, 1.0]),
        ],
        schema,
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.1]), (20, [0.1, 1.0])], "cent_id long, cvec array<float>"
    )
    out = {}
    for strategy in ("expr", "arrow"):
        rows = ivf_assign_as(strategy, emb, cents, n_probe=1).collect()
        out[strategy] = sorted((r["vec_id"], r["cent_id"]) for r in rows)
        assert len(rows) == 4, strategy
        assert dict(out[strategy])[1] == 10 and dict(out[strategy])[4] == 20
    assert out["expr"] == out["arrow"]


# --- cell-capped semdedup gate query ----------------------------------------


def test_semdedup_cellcap_sizing_regimes():
    """nlist = max(16, N // 100): floor-bound at oracle scale, binding
    (> isqrt(N)) at BOTH committed decade points — the property that
    makes the sf1→sf10 ratio measure the cell-capped regime."""
    import math

    from hbase_taggregator_spark.catalog.similarity import SEMDEDUP_CELL_CAP

    cap = SEMDEDUP_CELL_CAP
    assert max(16, 500 // cap) == 16  # sf0.01: floor (tiny corpus)
    for n in (20_000, 200_000):  # sf1, sf10
        assert max(16, n // cap) > math.isqrt(n)


def test_semdedup_cellcap_query_matches_isqrt_drop_semantics(spark):
    """Both sizings share the drop rule (drop iff a smaller-id cell-mate
    is cosine ≥ threshold); only the cell geometry differs, so survivor
    SETS may differ but the structural invariants may not: vec 0 always
    survives, and a corpus with near-duplicates loses rows."""
    from hbase_taggregator_spark.catalog import QUERIES

    a = {
        r["vec_id"]
        for r in QUERIES["semdedup_survivors"](spark, SF).collect()
    }
    b = {
        r["vec_id"]
        for r in QUERIES["semdedup_survivors_cellcap"](spark, SF).collect()
    }
    # not asserted equal in general (different cells); both must at least
    # keep vec 0 (nothing smaller exists) and drop something at sf0.001
    total = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert 0 in a and 0 in b
    assert len(a) < total or len(b) < total or total < 3


# --- catalog-level xxhash64 bit-rot smoke (VERDICT r6 task #8) --------------


def test_funnel_xxhash64_catalog_smoke(spark):
    """The production-hash funnel path bench.py times at sf1 must stay
    runnable and semantically sound from the same entry point: exact
    dups collapse identically under either hash family (the exact stage
    is hash_fn-independent), and the xxhash64 candidates still surface
    the same near-duplicate the md5 oracle contract finds."""
    from hbase_taggregator_spark.operators.dedup import dedup_funnel

    dup = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, dup), (2, dup), (3, dup + " tonight"),
         (4, "completely different words about spark engines")],
        "doc_id long, text string",
    )
    survivors = {}
    for fn in ("md5", "xxhash64"):
        rows = dedup_funnel(
            df, threshold=0.4, k=16, bands=4, hash_fn=fn
        ).collect()
        survivors[fn] = {r["doc_id"] for r in rows}
        assert 2 not in survivors[fn], fn  # exact dup always collapses
        assert 3 not in survivors[fn], fn  # near-dup caught by either hash
        assert {1, 4} <= survivors[fn], fn
    assert survivors["md5"] == survivors["xxhash64"]


# --- cross-document repeated-substring dedup (Lee et al. 2022) --------------


def test_repeated_substrings_cross_doc_first_kept(spark):
    """A duplicated 4-token window is removed from every occurrence
    except the globally first (min (doc_id, p)); untouched docs pass
    through normalized."""
    from hbase_taggregator_spark.operators.text import (
        dedup_repeated_substrings,
    )

    shared = "alpha beta gamma delta"
    rows = [
        (1, f"intro {shared} outro"),
        (2, f"other words here then {shared}"),
        (3, "completely unrelated text entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in dedup_repeated_substrings(df, k=4).collect()
    }
    assert got[1] == (f"intro {shared} outro", 0)  # first occurrence kept
    assert got[2] == ("other words here then", 4)  # later occurrence removed
    assert got[3] == ("completely unrelated text entirely", 0)


def test_repeated_substrings_within_doc_and_short_docs(spark):
    """A window repeated INSIDE one document loses the second copy; docs
    shorter than k can never be touched; overlapping duplicated windows
    merge into one removed span (no double counting)."""
    from hbase_taggregator_spark.operators.text import (
        dedup_repeated_substrings,
    )

    rows = [
        (1, "a b c d x a b c d"),  # self-repeat: second a..d removed
        (2, "tiny doc"),  # < k tokens
        (3, ""),  # empty text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in dedup_repeated_substrings(df, k=4).collect()
    }
    assert got[1] == ("a b c d x", 9, 4)
    assert got[2] == ("tiny doc", 2, 0)
    assert got[3] == ("", 1, 0)  # split('') -> [''], catalog convention


def test_repeated_substrings_cover_rule_overlap(spark):
    """Cover semantics: tokens of a FIRST occurrence are still removed
    when a DIFFERENT duplicated window covers them. doc 2 repeats doc
    1's window at position 1, so doc 2's copy is non-first and its
    cover extends over the overlapping region."""
    from hbase_taggregator_spark.operators.text import (
        dedup_repeated_substrings,
    )

    rows = [
        (1, "p q r s"),
        (2, "p q r s t"),
        (3, "q r s t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in dedup_repeated_substrings(df, k=4).collect()
    }
    # doc1 holds the first "p q r s"; doc3 holds the first "q r s t"
    # (doc2's is at p=2 > doc3's p=1? No: (2,2) vs (3,1) -> doc2 first by
    # doc ordering). So doc2 keeps "q r s t" cover only if first; doc2's
    # "p q r s" at p=1 is non-first -> covered [1,4]; its "q r s t" at
    # p=2 IS first (doc2 < doc3) -> not removed, but tokens 1-4 already
    # covered; token 5 ('t') survives only if no non-first window covers
    # it -> doc2 keeps 't'. doc3's copy is non-first -> fully removed.
    assert got[1] == ("p q r s", 0)
    assert got[2] == ("t", 4)
    assert got[3] == ("", 4)


# --- property: operator ≡ pure-Python reference on random corpora ----------

try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _doc_strategy = st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=5,
    )

    @settings(max_examples=6, deadline=None)
    @given(texts=_doc_strategy)
    def test_repeated_substrings_matches_reference(spark, texts):
        """Random tiny-alphabet corpora (dense with repeated windows by
        construction) must agree exactly with the pure-Python reference
        implementation of the cover semantics."""
        from hbase_taggregator_spark.operators.text import (
            dedup_repeated_substrings,
        )
        from tests.reference_sim import repeated_substring_reference

        docs = list(enumerate(texts, 1))
        want = repeated_substring_reference(docs, k=3)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
            for r in dedup_repeated_substrings(df, k=3).collect()
        }
        assert got == want
