"""Round-5 tests: adaptive semdedup nlist, ivf_assign two-phase
(double-prune / exact-fallback) argmax, simhash_pairs max_bucket recall contract, Jackson-lenient JSON
quarantine contract, and the round-5 operators — incremental admission
dedup (batch + streaming foreachBatch composition), temperature source
mixing, boilerplate removal, intra-document segment dedup, PageRank,
hot-key skew report, embedding duplicate clusters — with hand-computed
fixtures and algebraic properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from hbase_taggregator_spark.operators import dedup as D
from hbase_taggregator_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


# --- ivf_assign: double-prune fast path is bit-identical to exact ----------


def test_ivf_assign_fast_path_matches_pure_exact(spark):
    """The two-phase argmax (plain-double ranking, exact-decimal algebra
    only on ambiguous rows) must reproduce the pure exact assignment on
    real embeddings — compare against a from-scratch exact argmax built
    with the same decimal dot the oracle restates."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    got = {
        r["vec_id"]: r["cent_id"]
        for r in S.ivf_assign(emb, cents, n_probe=1).collect()
    }
    # independent exact reference: cross-join + decimal dot + min by
    # (-cos, cent_id) — the window form ivf_assign replaced
    c = cents.select(
        "cent_id", "cvec", S.norm(F.col("cvec")).alias("cnrm")
    )
    v = emb.select("vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm"))
    scored = v.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "cent_id",
        (S.dot(F.col("embedding"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))).alias("cos"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cent_id"))
    want = {
        r["vec_id"]: r["cent_id"]
        for r in scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    }
    assert got == want


def test_ivf_assign_ambiguous_tie_falls_back_to_exact_order(spark):
    """Two centroids at EXACTLY the same cosine from every vector (one is
    a scalar multiple of the other): the double gap is 0 ≤ EPS, so the
    fallback must engage and the exact tie-break (smaller cent_id) must
    decide."""
    corpus = spark.createDataFrame(
        [(1, [0.6, 0.8, 0.0]), (2, [0.8, 0.6, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        # cent 5 = 2 × cent 3: identical direction, exact cosine tie
        [(3, [0.1, 0.1, 0.0]), (5, [0.2, 0.2, 0.0])],
        "cent_id long, cvec array<double>",
    )
    rows = S.ivf_assign(corpus, cents, n_probe=1).collect()
    assert {r["cent_id"] for r in rows} == {3}


# --- simhash_pairs: max_bucket recall loss is a documented contract --------


def test_simhash_pairs_max_bucket_drops_recall(spark):
    """The chunk-banding prefilter is complete for Hamming <= 3 ONLY
    while no band bucket exceeds max_bucket: with many identical
    boilerplate docs every band bucket is oversized, a tiny max_bucket
    drops them all, and true duplicate pairs vanish. Pin both sides of
    the contract (ADVICE r4)."""
    docs = spark.createDataFrame(
        [(i, "same boilerplate text repeated here") for i in range(12)],
        "doc_id long, text string",
    )
    full = D.simhash_pairs(docs, max_hamming=3, max_bucket=1000)
    assert full.count() == 12 * 11 // 2  # identical docs: all pairs, hamming 0
    capped = D.simhash_pairs(docs, max_hamming=3, max_bucket=4)
    assert capped.count() == 0  # every bucket oversized -> all recall lost


# --- deterministic_sample: two-phase top-k is in the physical plan ---------


def test_deterministic_sample_plans_partial_group_limit(spark):
    """For k ≪ group size the group-key shuffle must NOT carry whole
    groups: Catalyst's WindowGroupLimit rewrite (SPARK-37099) prunes to
    top-k per group map-side (Partial) before the exchange and re-prunes
    after it (Final). Pin the rewrite so a future expression change that
    the rule can't match doesn't silently regress the shuffle volume."""
    from hbase_taggregator_spark import plans as P
    from hbase_taggregator_spark.operators.text import deterministic_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = deterministic_sample(docs, ["lang"], 5)
    plan = P.physical_plan(out)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan
    got = {r["lang"] for r in out.groupBy("lang").count().filter("count > 5").collect()}
    assert got == set()


# --- JSON quarantine: Spark-Jackson-lenient, not RFC 8259 ------------------


def test_json_quarantine_jackson_lenient_edges(spark):
    """Pin the parser-specific edges OUT of the oracle contract: Jackson
    stops at the first complete value (trailing garbage parses clean,
    where DuckDB's json_valid rejects), while trailing commas quarantine
    (where DuckDB accepts). The oracle pairing is valid for
    truncation-style corruption only (ADVICE r4)."""
    from hbase_taggregator_spark.operators.profile import parse_json_quarantine

    rows = [
        ("{\"k\":5}garbage", False),  # lenient: first value wins
        ("{\"k\":5}}", False),        # lenient: extra brace ignored
        ("{\"k\":5,}", True),         # Jackson rejects trailing comma
        ("{\"k\":05}", True),         # leading zero rejected
        ("{\"k\":5}", False),
        ("garbage", True),
        ("", True),
        (None, False),                # absent data, not corruption
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(rows)], "i long, payload string"
    )
    got = {
        r["i"]: r["quarantined"]
        for r in parse_json_quarantine(df, "payload", "k long").collect()
    }
    for i, (_, want) in enumerate(rows):
        assert got[i] is want, f"input {rows[i][0]!r}"


# --- round-5 operators: incremental dedup, mixing, boilerplate -------------


def test_incremental_dedup_rejects_near_dup_admits_novel(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # near-identical to corpus doc 1 -> rejected
            (10, "alpha beta gamma delta epsilon zeta eta iota"),
            # unrelated -> admitted
            (11, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    from hbase_taggregator_spark.operators.dedup import incremental_dedup

    got = {r["doc_id"] for r in incremental_dedup(corpus, new, threshold=0.4).collect()}
    assert got == {11}


def test_incremental_dedup_is_asymmetric(spark):
    """Batch-internal duplicates are NOT each other's rejection cause:
    two identical NEW docs with no corpus match are both admitted (the
    documented contract — run the funnel within the batch first)."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "one two three four five"), (11, "one two three four five")],
        "doc_id long, text string",
    )
    from hbase_taggregator_spark.operators.dedup import incremental_dedup

    got = {r["doc_id"] for r in incremental_dedup(corpus, new, threshold=0.4).collect()}
    assert got == {10, 11}


def test_source_mixing_flattens_and_caps(spark):
    df = spark.createDataFrame(
        [(i, "a") for i in range(100)]
        + [(i, "b") for i in range(100, 104)]
        + [(i, "c") for i in range(104, 105)],
        "doc_id long, source string",
    )
    from hbase_taggregator_spark.operators.text import source_mixing

    rows = {r["source"]: r for r in source_mixing(df, budget=50).collect()}
    # sqrt weights: 10, 2, 1 -> shares 10/13, 2/13, 1/13 of 50; a floors
    # to 38 then takes the single largest-remainder unit the uncapped set
    # can absorb (b/c are capped, so their shortfall stays unallocated)
    assert rows["a"]["n_docs"] == 100 and rows["a"]["target_n"] == 39
    assert rows["b"]["n_docs"] == 4 and rows["b"]["target_n"] == 4  # capped: floor(7.69)=7 > 4
    assert rows["c"]["n_docs"] == 1 and rows["c"]["target_n"] == 1  # capped: floor(3.8)=3 > 1
    # alpha=1 is proportional: a dominates
    prop = {r["source"]: r["target_n"] for r in source_mixing(df, budget=50, alpha=1.0).collect()}
    assert prop["a"] > rows["a"]["target_n"]


def test_remove_boilerplate_strips_common_lines_keeps_order(spark):
    docs = [(i, f"COOKIE BANNER\nunique line {i}\nbody {i} text\nFOOTER") for i in range(10)]
    docs.append((99, "totally novel\ndocument"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from hbase_taggregator_spark.operators.text import remove_boilerplate

    out = {r["doc_id"]: r for r in remove_boilerplate(df, min_docs=10).collect()}
    assert out[3]["clean_text"] == "unique line 3\nbody 3 text"
    assert out[3]["n_segments"] == 4 and out[3]["n_removed"] == 2
    assert out[99]["clean_text"] == "totally novel\ndocument"
    assert out[99]["n_removed"] == 0


def test_remove_boilerplate_all_boiler_survives_empty(spark):
    df = spark.createDataFrame(
        [(i, "SAME") for i in range(5)], "doc_id long, text string"
    )
    from hbase_taggregator_spark.operators.text import remove_boilerplate

    out = remove_boilerplate(df, min_docs=5).collect()
    assert len(out) == 5
    assert all(r["clean_text"] == "" and r["n_removed"] == 1 for r in out)


def test_rare_bigram_ratio_scores_novelty(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat"),      # bigrams: "the cat", "cat sat"
            (2, "the cat ran"),      # "the cat" (freq 3), "cat ran" (freq 1)
            (3, "the cat sat"),      # duplicate of 1
            (4, "quantum flux node"),  # all-novel bigrams
        ],
        "doc_id long, text string",
    )
    from hbase_taggregator_spark.operators.text import rare_bigram_ratio

    out = {r["doc_id"]: r for r in rare_bigram_ratio(df, max_freq=1).collect()}
    assert out[4]["rare_ratio"] == 1.0
    assert out[2]["n_bigrams"] == 2 and out[2]["n_rare"] == 1
    assert out[1]["n_rare"] == 0  # both its bigrams repeat in doc 3


def test_dedup_doc_segments_keeps_first_preserves_order(spark):
    from hbase_taggregator_spark import plans as P
    from hbase_taggregator_spark.operators.text import dedup_doc_segments

    df = spark.createDataFrame(
        [(1, "intro\nbody\nintro\noutro\nbody"), (2, "only\nunique\nlines")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_doc_segments(df).collect()}
    assert out[1]["clean_text"] == "intro\nbody\noutro"
    assert out[1]["n_segments"] == 5 and out[1]["n_removed"] == 2
    assert out[2]["n_removed"] == 0
    # the 100 TB claim: pure projection, ZERO shuffle
    assert P.count_nodes(dedup_doc_segments(df), "Exchange") == 0


def test_streaming_incremental_admission(spark, tmp_path):
    """incremental_dedup composes into the streaming ingest loop: each
    micro-batch of arriving documents is admitted against the static
    deduped corpus inside foreachBatch — the production shape (stream =
    today's crawl, static side = the persisted corpus band table). The
    drained admissions must equal the batch operator's verdict on the
    same rows."""
    import json

    from hbase_taggregator_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    new_rows = [
        (10, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup
        (11, "one two three four five six seven eight"),       # novel
        (12, "nine ten eleven twelve thirteen fourteen x y"),  # novel
    ]
    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "batch0.json").write_text(
        "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in new_rows)
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    admitted: list[int] = []

    def _admit(batch_df, batch_id):
        admitted.extend(
            r["doc_id"]
            for r in incremental_dedup(corpus, batch_df, threshold=0.4).collect()
        )

    q = stream.writeStream.foreachBatch(_admit).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    assert sorted(admitted) == [11, 12]


# --- algebraic properties of the round-5 operators -------------------------


def test_incremental_dedup_partitions_the_batch(spark):
    """Admitted ∪ rejected = the new batch, and admitted against an EMPTY
    corpus is the whole batch (no corpus, no rejection)."""
    from hbase_taggregator_spark.operators.dedup import incremental_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    admitted = {r["doc_id"] for r in incremental_dedup(corpus, new, threshold=0.4).collect()}
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert admitted <= new_ids
    empty = corpus.filter(F.lit(False))
    all_in = {r["doc_id"] for r in incremental_dedup(empty, new, threshold=0.4).collect()}
    assert all_in == new_ids


def test_source_mixing_budget_and_caps(spark):
    """Targets never exceed source sizes, and their sum never exceeds the
    budget by more than the per-source floor loss."""
    from hbase_taggregator_spark.operators.text import source_mixing

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = source_mixing(docs, budget=200, group_col="lang").collect()
    assert all(r["target_n"] <= r["n_docs"] for r in rows)
    assert sum(r["target_n"] for r in rows) <= 200


def test_dedup_doc_segments_is_idempotent(spark):
    """A deduped document has no repeats left: applying the operator to
    its own output changes nothing."""
    from hbase_taggregator_spark.operators.text import dedup_doc_segments

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    once = dedup_doc_segments(docs, delimiter=" ").select(
        F.col("doc_id"), F.col("clean_text").alias("text")
    )
    twice = dedup_doc_segments(once, delimiter=" ")
    assert twice.filter(F.col("n_removed") != 0).count() == 0


def test_remove_boilerplate_threshold_above_corpus_is_noop(spark):
    from hbase_taggregator_spark.operators.text import remove_boilerplate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.count()
    out = remove_boilerplate(docs, min_docs=n + 1, delimiter=" ")
    assert out.filter(F.col("n_removed") != 0).count() == 0
    # and reassembly round-trips the original text
    joined = out.join(docs, "doc_id")
    assert joined.filter(F.col("clean_text") != F.col("text")).count() == 0


# --- PageRank: hand-computed power iteration -------------------------------


def test_pagerank_hand_computed_triangle(spark):
    """3-node graph A→B, B→C, C→A (a cycle): uniform out-degree 1 means
    every power step is rank-preserving, so ranks stay exactly 1/3 at
    every iteration — any drift is an arithmetic bug. Then a chain A→B,
    A→C, B→C: C collects from two paths, hand-checkable after one step."""
    from hbase_taggregator_spark.operators.graph import pagerank

    cycle = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(cycle, n_iter=4).collect()}
    third = 1.0 / 3.0
    for v in got.values():
        assert abs(v - third) < 1e-12

    chain = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(chain, n_iter=1, damping=0.85).collect()}
    base = (1.0 - 0.85) / 3.0
    assert abs(got[1] - base) < 1e-12                       # no in-edges
    assert abs(got[2] - (base + 0.85 * (1 / 3 / 2))) < 1e-12  # from A (outdeg 2)
    assert abs(got[3] - (base + 0.85 * (1 / 3 / 2 + 1 / 3))) < 1e-9  # A + B


def test_pagerank_dedups_multi_edges(spark):
    from hbase_taggregator_spark.operators.graph import pagerank

    multi = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 2), (2, 1)], "src long, dst long"
    )
    single = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    a = sorted((r["node"], r["rank"]) for r in pagerank(multi, n_iter=2).collect())
    b = sorted((r["node"], r["rank"]) for r in pagerank(single, n_iter=2).collect())
    assert a == b


def test_skew_report_hand_computed(spark):
    from hbase_taggregator_spark.operators.profile import skew_report

    df = spark.createDataFrame(
        [(i, "hot") for i in range(8)] + [(100, "a"), (101, "b")],
        "id long, k string",
    )
    rows = skew_report(df, ["k"], k=2).collect()
    assert [r["key"] for r in rows] == ["hot", "a"]  # tie a<b by key
    top = rows[0]
    assert top["rank"] == 1 and top["n_rows"] == 8
    assert abs(top["share"] - 0.8) < 1e-12
    assert abs(top["ratio_to_avg"] - 8 / (10 / 3)) < 1e-12


def test_embedding_dup_clusters_transitive(spark):
    """A~B and B~C near-dups (LSH same bucket, cosine over threshold)
    collapse into ONE component with min-id labeling."""
    from hbase_taggregator_spark.operators.dedup import duplicate_components
    from hbase_taggregator_spark.operators.similarity import lsh_neardup_pairs

    base = [1.0, 0.5, 0.25, 0.125]
    emb = spark.createDataFrame(
        [
            (1, base),
            (2, [x * 2 for x in base]),       # cosine 1.0 with 1
            (3, [x * 0.5 for x in base]),     # cosine 1.0 with 1 and 2
            (4, [-1.0, 0.9, -0.8, 0.7]),      # unrelated direction
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = lsh_neardup_pairs(emb, threshold=0.9, dim=4)
    comp = {r["node_id"]: (r["component_id"], r["component_size"])
            for r in duplicate_components(pairs).collect()}
    assert comp[1] == (1, 3) and comp[2] == (1, 3) and comp[3] == (1, 3)
    assert 4 not in comp  # singleton never enters the graph


# --- edge cases: empty inputs, nulls, self-loops ---------------------------


def test_incremental_dedup_empty_batch(spark):
    from hbase_taggregator_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    empty = corpus.filter(F.lit(False))
    assert incremental_dedup(corpus, empty).count() == 0


def test_skew_report_null_keys_counted(spark):
    """NULL key values must not vanish from the census — they encode as
    the explicit \\N sentinel (r6: injective encoding replaced the old
    concat_ws null-folding, which collided NULL with the empty string)."""
    from hbase_taggregator_spark.operators.profile import skew_report

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "id long, k string"
    )
    rows = {r["key"]: r["n_rows"] for r in skew_report(df, ["k"], k=5).collect()}
    assert rows == {"\\N": 2, "x": 1}


def test_doc_segment_ops_on_empty_text(spark):
    """Empty text splits to one empty segment in both operators — a row
    is never silently dropped."""
    from hbase_taggregator_spark.operators.text import (
        dedup_doc_segments,
        remove_boilerplate,
    )

    df = spark.createDataFrame([(1, ""), (2, "a b")], "doc_id long, text string")
    d = {r["doc_id"]: r for r in dedup_doc_segments(df, delimiter=" ").collect()}
    assert d[1]["clean_text"] == "" and d[1]["n_segments"] == 1
    b = {r["doc_id"]: r for r in remove_boilerplate(df, min_docs=99, delimiter=" ").collect()}
    assert set(b) == {1, 2} and b[1]["n_removed"] == 0


def test_pagerank_self_loop(spark):
    """A self-loop keeps its mass: node 1 with only (1,1) retains rank
    (1-d)/N + d*rank each step — hand-checkable against the operator."""
    from hbase_taggregator_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 1), (2, 1)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=1).collect()}
    base = 0.15 / 2
    assert abs(got[1] - (base + 0.85 * (0.5 + 0.5))) < 1e-12  # self + from 2
    assert abs(got[2] - base) < 1e-12
