"""Round-8 regression tests: the ivf_assign scale rewrite (VERDICT r7
"Next round" #1 + ADVICE) — centroids ship via SparkContext.broadcast
(not a task closure, not a plan literal), boundary-ambiguous rows
resolve through a bit-exact in-UDF Python mirror of the exact-decimal
algebra (no join, no second job — the plan keeps its zero-Exchange
shape at any nlist), and the beyond-broadcast two-level assignment
keeps the centroid set distributed end-to-end.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import ivf_assign_as

SF = "/root/testdata/sf0.001"


def _toy_vectors(spark, n=40, dim=8):
    rows = [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# --- arrow strategy: broadcast shipping, literal-free plan ------------------


def test_ivf_assign_arrow_ships_centroids_via_broadcast(spark, monkeypatch):
    """The centroid matrix must reach executors through
    SparkContext.broadcast (torrent, once per executor) — not through the
    pickled task closure (re-shipped per task) and not through a plan
    literal (serialized per task): the r7 scale-killer at nlist ∝ N."""
    import numpy as np
    import pyspark

    from hbase_taggregator_spark.operators import similarity as S

    calls = []
    orig = pyspark.SparkContext.broadcast

    def spy(self, value):
        calls.append(value)
        return orig(self, value)

    monkeypatch.setattr(pyspark.SparkContext, "broadcast", spy)
    emb = _toy_vectors(spark)
    cents = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    rows = ivf_assign_as("arrow", emb, cents, n_probe=1).collect()
    assert len(rows) == 40
    payloads = [
        v for v in calls
        if isinstance(v, tuple) and len(v) == 3
        and isinstance(v[0], np.ndarray) and v[0].shape == (6, 8)
    ]
    assert payloads, "centroid matrix never went through SparkContext.broadcast"


def test_ivf_assign_arrow_plan_has_no_centroid_literal_and_no_exchange(spark):
    """At arrow-strategy nlist the plan must be Project → MapInPandas →
    Project: zero Exchange (the map-side contract, as at every other
    nlist) and NO centroid vector values inlined anywhere in the plan
    tree — the r7 form kept an O(nlist·dim) array<array<double>> literal
    alive inside the exact-fallback expression, serialized with every
    task."""
    from hbase_taggregator_spark import plans as P
    from hbase_taggregator_spark.operators import similarity as S

    sentinel = 0.123456789e-3
    dim, nlist = 8, 150  # >= ARROW_ASSIGN_MIN_NLIST -> auto picks arrow
    cents = spark.createDataFrame(
        [(i, [sentinel if j == 0 else 0.01 * ((i + j) % 7 + 1)
              for j in range(dim)]) for i in range(nlist)],
        "cent_id long, cvec array<double>",
    )
    corpus = _toy_vectors(spark, n=30, dim=dim)
    assigned = S.ivf_assign(corpus, cents, n_probe=1)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert P.count_nodes(assigned, "Exchange") == 0
    assert "0.123456789" not in plan, "centroid values leaked into the plan"
    assert len(plan) < 20_000, f"suspiciously large plan ({len(plan)} chars)"
    assert assigned.count() == 30


def test_ivf_assign_arrow_full_batch_fallback_warns(spark):
    """A batch where EVERY vector misses the centroid dimension (a likely
    misconfiguration) must still resolve through the exact path AND emit
    a RuntimeWarning naming the mismatch (r7 ADVICE #3). The warning is
    raised in the Python worker, so assert on the resolved output here
    and pin the warning in-process below."""
    from hbase_taggregator_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(i, [0.1 * (i + 1), 0.2, 0.3]) for i in range(5)],  # dim 3
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],  # dim 2
        "cent_id long, cvec array<double>",
    )
    rows = ivf_assign_as("arrow", corpus, cents).collect()
    # every row falls back; all-null negcos orders by position -> first id
    assert sorted((r["vec_id"], r["cent_id"]) for r in rows) == [
        (i, 10) for i in range(5)
    ]


def test_arrow_assign_batch_fn_warns_in_process():
    """Drive the batch function directly (no Spark worker) to pin the
    full-batch-fallback RuntimeWarning text."""
    import warnings

    import numpy as np
    import pandas as pd

    from hbase_taggregator_spark.operators import similarity as S

    class _FakeBroadcast:
        def __init__(self, v):
            self.value = v

    class _FakeSC:
        def broadcast(self, v):
            return _FakeBroadcast(v)

    class _FakeSession:
        sparkContext = _FakeSC()

    class _FakeDF:
        sparkSession = _FakeSession()

        @property
        def schema(self):
            from pyspark.sql.types import (
                ArrayType, DoubleType, LongType, StructField, StructType,
            )

            return StructType(
                [
                    StructField("vec_id", LongType()),
                    StructField("embedding", ArrayType(DoubleType())),
                    StructField("nrm", DoubleType()),
                ]
            )

        def mapInPandas(self, fn, schema):
            self.fn = fn
            return self

        def select(self, *_, **__):
            return self

    from pyspark.sql.types import LongType

    fake = _FakeDF()
    S._arrow_assign(
        fake, [[1.0, 0.0]], [1.0], [10], LongType(), "embedding", "vec_id",
        1, 1.0, 1e-6,
    )
    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2],
            "embedding": [np.array([0.1, 0.2, 0.3]), np.array([0.4, 0.5, 0.6])],
            "nrm": [1.0, 1.0],
        }
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = list(fake.fn(iter([pdf])))
    assert len(out) == 1 and list(out[0]["__cents"]) == [[10], [10]]
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("entire batch" in m and "centroid dim" in m for m in msgs), msgs


# --- the Python exact mirror is bit-identical to the JVM algebra -----------


def test_py_negcos_matches_jvm_exact_algebra_bitwise(spark):
    """_py_negcos must reproduce the JVM expression
    -(dot(v,c)/(nrm*cnrm)) BIT-FOR-BIT (dot = per-element double products
    cast to DECIMAL(18,12), exact sum, cast to double): it decides
    boundary-ambiguous rows on the arrow path, where any divergence from
    the expr strategy's exact tree would break cross-strategy identity.
    200 random float32 pairs across two dims, plus shortest-repr edge
    values (0.1-style non-dyadic doubles)."""
    import random

    from hbase_taggregator_spark.operators.similarity import (
        _py_negcos, dot, norm,
    )

    rnd = random.Random(8)
    cases = []
    for dim in (8, 64):
        for _ in range(100):
            cases.append(
                (
                    [rnd.uniform(-1, 1) for _ in range(dim)],
                    [rnd.uniform(-1, 1) for _ in range(dim)],
                )
            )
    cases.append(([0.1, 0.2, 0.3], [0.1, 0.2, 0.3]))
    # small magnitudes stress the quantize-at-1e-12 rounding (norms stay
    # nonzero: squares ~1e-8 survive the DECIMAL(18,12) cast)
    cases.append(([1e-4, -1e-4, 5e-4], [1.0, 1.0, 1.0]))
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)],
        "i long, a array<float>, b array<float>",
    )
    jvm = {
        r["i"]: (r["neg"], r["na"], r["nb"])
        for r in df.select(
            "i",
            (
                -(dot(F.col("a"), F.col("b")) / (norm(F.col("a")) * norm(F.col("b"))))
            ).alias("neg"),
            norm(F.col("a")).alias("na"),
            norm(F.col("b")).alias("nb"),
        ).collect()
    }
    # feed the JVM-computed norms back (the arrow path does the same: nrm
    # is a column, cnrm is collected) so the comparison isolates the dot
    import numpy as np

    for i, (a, b) in enumerate(cases):
        neg_jvm, na, nb = jvm[i]
        a32 = [float(np.float32(x)) for x in a]
        b32 = [float(np.float32(x)) for x in b]
        neg_py = _py_negcos(a32, b32, na, nb)
        assert neg_py == neg_jvm, (i, neg_py, neg_jvm)


def test_py_exact_ids_mirrors_expr_null_ordering():
    """NULL negcos (ragged/NULL vectors) must order FIRST and tie-break
    by position — the ordering the r7 null-vector tests pin."""
    import numpy as np

    from hbase_taggregator_spark.operators.similarity import _py_exact_ids

    C = np.array([[1.0, 0.0], [0.0, 1.0]])
    cn = np.array([1.0, 1.0])
    cids = np.array([10, 20])
    assert _py_exact_ids(None, 1.0, C, cn, cids, 1) == [10]
    assert _py_exact_ids([0.5, 0.5, 0.5], 1.0, C, cn, cids, 1) == [10]
    assert _py_exact_ids([0.0, 1.0], 1.0, C, cn, cids, 1) == [20]
    assert _py_exact_ids(None, 1.0, C, cn, cids, 2) == [10, 20]


# --- two-level assignment ----------------------------------------------------


def test_two_level_never_materializes_centroids(spark, monkeypatch):
    """The two-level path must not collect the centroid VECTORS to the
    driver or broadcast them: only the scalar count and the SMALL super
    set (n_super rows) may cross. Spy on both channels."""
    import numpy as np
    import pyspark

    from hbase_taggregator_spark.operators import similarity as S

    bc_payloads = []
    orig = pyspark.SparkContext.broadcast

    def spy(self, value):
        bc_payloads.append(value)
        return orig(self, value)

    monkeypatch.setattr(pyspark.SparkContext, "broadcast", spy)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    nlist = 200
    cents = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    out = S.ivf_assign_two_level(emb, cents, n_super=14, n_super_probe=3)
    assert out.count() > 0
    for v in bc_payloads:
        if isinstance(v, tuple) and v and isinstance(v[0], np.ndarray):
            assert v[0].shape[0] <= 14, (
                f"full centroid set ({v[0].shape}) was broadcast — "
                "two-level must keep it distributed"
            )


def test_two_level_matches_python_reference(spark):
    """Pin the full two-level algebra against an independent pure-Python
    reference (plain float math — the fixture has no near-ties, so float
    vs decimal cannot flip an argmin): block means, nearest-super
    membership, n_super_probe probing, exact candidate argmin."""
    import math

    from hbase_taggregator_spark.operators import similarity as S

    n, dim, nlist, n_super, n_probe = 60, 8, 12, 4, 2
    emb = _toy_vectors(spark, n=n, dim=dim)
    cents = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    got = {
        r["vec_id"]: r["cent_id"]
        for r in S.ivf_assign_two_level(
            emb, cents, n_super=n_super, n_super_probe=n_probe
        ).collect()
    }

    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    cvecs = {i: vecs[i] for i in range(nlist)}

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    blocks = {cid: ((cid) * n_super) // nlist for cid in range(nlist)}
    supers = {}
    for b in range(n_super):
        member_vs = [cvecs[c] for c, blk in blocks.items() if blk == b]
        supers[b] = [
            sum(v[d] for v in member_vs) / len(member_vs) for d in range(dim)
        ]
    member_of = {
        c: min(supers, key=lambda b: (-cos(cvecs[c], supers[b]), b))
        for c in range(nlist)
    }
    expected = {}
    for vid, v in vecs.items():
        probed = sorted(supers, key=lambda b: (-cos(v, supers[b]), b))[:n_probe]
        cands = [c for c in range(nlist) if member_of[c] in probed]
        if cands:
            expected[vid] = min(cands, key=lambda c: (-cos(v, cvecs[c]), c))
    assert got == expected


def test_kmeans_refine_twolevel_passthrough_keeps_centroids_distributed(
    spark, monkeypatch
):
    """kmeans_refine(two_level=True) must run Lloyd with NO driver
    round-trip of the centroid set: nothing centroid-shaped may cross
    SparkContext.broadcast, and the refined output must still be a valid
    (cent_id, cvec) frame."""
    import numpy as np
    import pyspark

    from hbase_taggregator_spark.operators import similarity as S

    bc_payloads = []
    orig = pyspark.SparkContext.broadcast

    def spy(self, value):
        bc_payloads.append(value)
        return orig(self, value)

    monkeypatch.setattr(pyspark.SparkContext, "broadcast", spy)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    init = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    refined = S.kmeans_refine(emb, init, n_iter=1, two_level=True)
    rows = refined.collect()
    assert 0 < len(rows) <= 32
    assert all(len(r["cvec"]) == 64 for r in rows)
    for v in bc_payloads:
        if isinstance(v, tuple) and v and isinstance(v[0], np.ndarray):
            assert v[0].shape[0] < 32, "centroid set crossed the driver"


def test_two_level_rejects_invalid_probe_and_empty(spark):
    """r9: n_probe > 1 is SUPPORTED (the r8-declared API hole is closed
    — see test_round9.py); only n_probe < 1 and empty centroid sets
    reject."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = _toy_vectors(spark, n=5)
    cents = emb.select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    with pytest.raises(ValueError, match="n_probe"):
        S.ivf_assign_two_level(emb, cents, n_probe=0)
    empty = spark.createDataFrame([], "cent_id long, cvec array<double>")
    with pytest.raises(ValueError, match="non-empty centroid"):
        S.ivf_assign_two_level(emb, empty)


# --- zero-norm vectors must not kill jobs under ANSI -------------------------


def test_zero_norm_vectors_assign_and_dedup_without_raising(spark):
    """Real corpora contain zero embeddings (empty documents). Under ANSI
    (this deployment's default) a bare cosine division raises
    DIVIDE_BY_ZERO; the _nz guard must instead give NULL scores with
    deterministic placement: assignment to the lowest-position centroid
    (both strategies), survival through semdedup (similar to nothing),
    and exclusion from cosine top-k (NULLS LAST)."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),  # zero norm
            (3, [0.0, 1.0]),
            (4, [0.7, 0.7]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.1]), (20, [0.1, 1.0])], "cent_id long, cvec array<double>"
    )
    for strategy in ("expr", "arrow"):
        got = dict(
            (r["vec_id"], r["cent_id"])
            for r in ivf_assign_as(strategy, emb, cents).collect()
        )
        assert got[2] == 10, strategy  # null scores -> lowest position
        assert got[1] == 10 and got[3] == 20, strategy
    surv = {r["vec_id"] for r in S.semdedup(emb, cents, threshold=0.5).collect()}
    assert 2 in surv  # zero vector is near-duplicate of nothing
    spark.catalog.clearCache()
    topk = S.cosine_topk(emb, emb.filter(F.col("vec_id") == 1), k=2)
    ids = [r["vec_id"] for r in topk.collect()]
    assert 2 not in ids  # NULL cosine ranks last, never enters top-k


# --- embedding covariance diagnostic ----------------------------------------


def test_embedding_covariance_matches_numpy(spark):
    """Upper-triangle population covariance must agree with numpy's
    within the decimal-rounding budget (products quantized at 1e-12),
    and the plan must be one pass: no row-to-row join of the corpus —
    only the dim²-row broadcast joins of linear onto quadratic sums."""
    import numpy as np

    from hbase_taggregator_spark import plans as P
    from hbase_taggregator_spark.operators.similarity import (
        embedding_covariance,
    )

    dim, n = 8, 40
    emb = _toy_vectors(spark, n=n, dim=dim)
    out = embedding_covariance(emb, dim=dim)
    assert P.count_nodes(out, "SortMergeJoin") == 0
    # all three fan-out branches (quad + sx + sy) must read the pinned
    # aggregate, not re-derive the corpus pass (pre-persist plan ran 3
    # parquet scans)
    assert P.count_nodes(out, "InMemoryTableScan") == 3
    got = {(r["i"], r["j"]): r["cov"] for r in out.collect()}
    assert len(got) == dim * (dim + 1) // 2
    M = np.array(
        [[float(np.float32(((k * 7 + j * 13) % 19 - 9) / 9.0))
          for j in range(dim)] for k in range(n)]
    )
    want = np.cov(M, rowvar=False, bias=True)
    for (i, j), c in got.items():
        assert abs(c - want[i - 1][j - 1]) < 1e-9, (i, j, c, want[i - 1][j - 1])


def test_embedding_covariance_excludes_ragged_and_null(spark):
    from hbase_taggregator_spark.operators.similarity import (
        embedding_covariance,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, None),
            (3, [1.0, 2.0, 3.0]),  # wrong dim
            (4, [3.0, 6.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {(r["i"], r["j"]): r["cov"] for r in embedding_covariance(emb, dim=2).collect()}
    # two valid vectors (1,2) and (3,6): population cov over n=2
    assert got == {(1, 1): 1.0, (1, 2): 2.0, (2, 2): 4.0}


def test_semdedup_twolevel_passthrough(spark):
    """semdedup over a two-level quantizer must run the full drop
    pipeline on the approximate assignment — same output CONTRACT
    (survivor ids + their cells), cells from the two-level quantizer."""
    from hbase_taggregator_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    out = S.semdedup(
        emb, S.coarse_quantizer(cents, two_level=True), threshold=0.42
    )
    rows = out.collect()
    assert 0 < len(rows) <= emb.count()
    assert set(out.columns) == {"vec_id", "cent_id"}


def test_embedding_standardize_matches_numpy_and_handles_zero_variance(spark):
    """z-score summaries must agree with a numpy recomputation, constant
    dimensions must standardize to 0 (not NaN/error under ANSI), and
    invalid vectors are excluded."""
    import math

    import numpy as np

    from hbase_taggregator_spark.operators.similarity import (
        embedding_standardize,
    )

    dim, n = 4, 12
    rows = [
        (i, [float(i % 5), 7.0, float((i * 3) % 11), float(i)])
        for i in range(n)
    ]  # dim 1 constant -> std 0
    rows.append((100, None))
    rows.append((101, [1.0, 2.0]))  # wrong dim
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["n_dims"], r["z_l1"], r["z_checksum"])
        for r in embedding_standardize(emb, dim=dim).collect()
    }
    assert set(got) == set(range(n))
    M = np.array([r[1] for r in rows[:n]], dtype=np.float64)
    mean = M.mean(axis=0)
    std = M.std(axis=0)  # population
    want = {}
    for i in range(n):
        qs = [
            math.floor(
                ((M[i][d] - mean[d]) / std[d] if std[d] > 0 else 0.0) * 1000.0
                + 0.5
            )
            for d in range(dim)
        ]
        want[i] = (
            dim,
            sum(abs(q) for q in qs),
            sum(q * (d + 1) for d, q in enumerate(qs)),
        )
    assert got == want


# --- hypothesis: expr and arrow strategies are identical on random input ----

try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _vec = st.lists(
        st.floats(min_value=-1.0, max_value=1.0, width=32), min_size=6,
        max_size=6,
    )

    @settings(max_examples=5, deadline=None)
    @given(vecs=st.lists(_vec, min_size=8, max_size=16))
    def test_ivf_assign_strategies_identical_on_random_vectors(spark, vecs):
        """Property pin for the in-UDF Python exact mirror: on arbitrary
        float32 vectors (including duplicate centroids when hypothesis
        generates repeats — forced ambiguity), expr and arrow must
        return IDENTICAL assignments."""
        # no anchoring: all-zero vectors are fair game — the _nz guard
        # gives them NULL scores and both strategies must place them
        # identically (lowest-position centroid)
        rows = [(i, v) for i, v in enumerate(vecs)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        cents = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
        )
        out = {}
        for strategy in ("expr", "arrow"):
            out[strategy] = sorted(
                (r["vec_id"], r["cent_id"])
                for r in ivf_assign_as(strategy, emb, cents, n_probe=1).collect()
            )
        assert out["expr"] == out["arrow"]


# --- repeated-substring dedup at the paper's k=50 (VERDICT r7 task #6) ------


def test_repeated_substrings_paper_k50_matches_reference(spark):
    """Lee et al. (arXiv:2107.06499) run with k=50 tokens; the fixture
    documents average ~54 tokens, so the r7 gate used k=8. Exercise the
    PAPER setting by concatenating the sf0.001 documents into 5 long
    synthetic documents (``doc_id % 5`` spreads the near-duplicate
    cliques across groups, so 50-token windows genuinely repeat ACROSS
    the long documents — 867 duplicated occurrences in this slice) and
    pin the ENTIRE output against the pure-Python reference at k=50.
    The census-paired k=50 timing lives in bench_k50_r8.py in git history."""
    from hbase_taggregator_spark.operators.text import (
        dedup_repeated_substrings,
    )
    from tests.reference_sim import repeated_substring_reference

    G, K = 5, 50
    raw = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.trim(F.lower("text")).alias("t"))
        .orderBy("doc_id")
        .collect()
    )
    groups: dict[int, list[str]] = {}
    for r in raw:
        groups.setdefault(r["doc_id"] % G, []).append(r["t"])
    docs = [(g, " ".join(ts)) for g, ts in sorted(groups.items())]
    want = repeated_substring_reference(docs, k=K)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in dedup_repeated_substrings(df, k=K).collect()
    }
    assert got == want
    assert sum(v[2] for v in got.values()) > 500, (
        "fixture slice lost its k=50 repeats — census drifted"
    )
