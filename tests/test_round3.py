"""Round-3 additions: band-join boundary correctness, encoder range
guards, map-side IVF (plan-asserted zero-shuffle), k-means refinement,
LSH bucket-size skew guard, window-form exact dedup, multimodal header
decode round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import import_catalog_module_first, ivf_pq
from hbase_taggregator_spark import plans as P
from hbase_taggregator_spark.functions.decoders import (
    scaled_decimal_decoder,
    scaled_decimal_encoder,
)
from hbase_taggregator_spark.operators import dedup as D
from hbase_taggregator_spark.operators import multimodal as M
from hbase_taggregator_spark.operators import similarity as S
from hbase_taggregator_spark.operators.relational import range_band_join

SF = "/root/testdata/sf0.001"


# --- range_band_join boundary handling (ADVICE r2) -------------------------


def test_range_band_join_fractional_hi(spark):
    """A band with fractional hi must still cover its top partial bucket
    (ceil(hi/grid)-1, not floor((hi-1)/grid))."""
    fact = spark.createDataFrame(
        [(i, float(i)) for i in range(25)], "id int, v double"
    )
    bands = spark.createDataFrame(
        [("frac", 5.0, 10.5), ("norm", 20.0, 22.0)],
        "name string, lo double, hi double",
    )
    got = sorted(
        (r.id, r.name)
        for r in range_band_join(fact, bands, "v", 10).select("id", "name").collect()
    )
    want = sorted(
        [(i, "frac") for i in range(5, 11)] + [(20, "norm"), (21, "norm")]
    )
    assert got == want


def test_range_band_join_degenerate_band_dropped(spark):
    """hi <= lo matches nothing under [lo, hi) — and must not trip
    sequence()'s descending-list behavior."""
    fact = spark.createDataFrame([(1, 7.0)], "id int, v double")
    bands = spark.createDataFrame(
        [("degen", 7.0, 7.0), ("inv", 9.0, 3.0)], "name string, lo double, hi double"
    )
    assert range_band_join(fact, bands, "v", 10).count() == 0


# --- scaled_decimal_encoder guards (ADVICE r2) -----------------------------


def test_encoder_validates_scale():
    with pytest.raises(ValueError):
        scaled_decimal_encoder(19)
    with pytest.raises(ValueError):
        scaled_decimal_encoder(-1)


def test_encoder_out_of_range_raises(spark):
    """|unscaled| >= 2^63 must fail loudly, not encode NULL bytes."""
    df = spark.createDataFrame([(9.3e18,)], "v double")
    with pytest.raises(Exception, match="Decimal|unscaled|2\\^63|OUT_OF_RANGE"):
        df.select(scaled_decimal_encoder(2)(F.col("v"))).collect()


def test_encoder_decoder_roundtrip(spark):
    df = spark.createDataFrame(
        [("1234.56",), ("-0.01",), ("0.00",), (None,)], "s string"
    )
    orig = F.col("s").cast("decimal(20,2)")
    rt = scaled_decimal_decoder(2)(scaled_decimal_encoder(2)(orig))
    rows = df.select(orig.alias("orig"), rt.alias("rt")).collect()
    for r in rows:
        assert r.orig == r.rt


# --- map-side IVF: zero shuffle, refinement improves the objective ---------


def _first16_centroids(emb):
    return (
        emb.orderBy("vec_id")
        .limit(16)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec"))
    )


def test_ivf_assign_is_map_side(spark):
    """The corpus→centroid argmax is a per-row expression over inlined
    centroids: NO Exchange anywhere in the assignment plan (the r2 form
    shuffled corpus × n_centroids rows through a row_number window)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned = S.ivf_assign(emb, _first16_centroids(emb), n_probe=1)
    assert P.count_nodes(assigned, "Exchange") == 0
    assert assigned.count() == emb.count()


def test_ivf_assign_matches_window_form(spark):
    """Map-side argmax picks the same centroid as the explicit
    score-everything-then-rank formulation (same cosine, same tiebreak)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
    cents = _first16_centroids(emb)
    fast = {
        r["vec_id"]: r["cent_id"]
        for r in S.ivf_assign(emb, cents, n_probe=1).collect()
    }
    import math

    c = cents.collect()
    slow = {}
    for v in emb.select("vec_id", "embedding").collect():
        vn = math.sqrt(sum(x * x for x in v["embedding"]))
        scored = []
        for cr in c:
            cn = math.sqrt(sum(x * x for x in cr["cvec"]))
            num = sum(a * b for a, b in zip(v["embedding"], cr["cvec"]))
            scored.append((-(num / (vn * cn)), cr["cent_id"]))
        slow[v["vec_id"]] = sorted(scored)[0][1]
    assert fast == slow


def test_kmeans_refine_improves_objective(spark):
    """One Lloyd iteration must improve the clustering objective (mean
    cosine of each vector to its assigned centroid) — the invariant k-means
    optimizes. (Recall@k on the synthetic near-uniform fixture is flat by
    construction, so the objective is the signal.)"""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    init = _first16_centroids(emb)

    def objective(cents):
        assigned = S.ivf_assign(emb, cents, n_probe=1)
        cmap = {
            r["cent_id"]: r["cvec"]
            for r in cents.select("cent_id", "cvec").collect()
        }
        import math

        tot = n = 0
        for r in assigned.select("embedding", "cent_id").collect():
            v, c = r["embedding"], cmap[r["cent_id"]]
            vn = math.sqrt(sum(x * x for x in v))
            cn = math.sqrt(sum(x * x for x in c))
            tot += sum(a * b for a, b in zip(v, c)) / (vn * cn)
            n += 1
        return tot / n

    refined = S.kmeans_refine(emb, init, n_iter=1)
    assert objective(refined) > objective(init) + 0.01


def test_exclude_self_opt_out(spark):
    """With exclude_self=False, an id collision between an unrelated query
    table and the corpus must NOT drop the corpus row."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with_self = S.cosine_topk(corpus, queries, k=2, exclude_self=False)
    ids = {r["vec_id"] for r in with_self.collect()}
    assert ids == {1, 2}
    without = S.cosine_topk(corpus, queries, k=2, exclude_self=True)
    assert {r["vec_id"] for r in without.collect()} == {2}


# --- LSH bucket-size guard -------------------------------------------------


def test_minhash_bucket_cap_bounds_skew(spark):
    """One mega-bucket (many near-identical docs) must not explode the pair
    count: with max_bucket set below the clique size, the hot buckets are
    dropped and only the small-bucket pairs remain."""
    boiler = [(i, "the same boilerplate text repeated endlessly here") for i in range(40)]
    distinct = [
        (100 + i, f"unique document number {i} with words {i * 17} and {i * 31}")
        for i in range(6)
    ]
    near = [
        (200, "a rare pair of documents sharing most tokens exactly"),
        (201, "a rare pair of documents sharing most tokens exactly too"),
    ]
    df = spark.createDataFrame(boiler + distinct + near, "doc_id long, text string")
    uncapped = D.minhash_lsh_candidates(df, k=8, bands=4, max_bucket=None)
    capped = D.minhash_lsh_candidates(df, k=8, bands=4, max_bucket=10)
    n_uncapped = uncapped.count()
    n_capped = capped.count()
    assert n_uncapped >= 40 * 39 // 2  # the boilerplate clique is quadratic
    assert n_capped < 40  # cap removed the clique…
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (200, 201) in pairs  # …but kept the legitimate near-dup pair


def test_funnel_with_cap_still_exact_on_small_buckets(spark):
    """The funnel with a cap keeps verifying small-bucket candidates."""
    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "totally different content about other things entirely"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    survivors = {
        r.doc_id
        for r in D.dedup_funnel(df, threshold=0.5, k=8, bands=4, max_bucket=10).collect()
    }
    assert survivors == {1, 3}


# --- exact_dedup keep_columns ----------------------------------------------


def test_exact_dedup_keep_columns(spark):
    df = spark.createDataFrame(
        [
            (1, "same text", "en"),
            (2, "same text", "de"),
            (3, "other text", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    rows = {
        r.doc_id: (r.lang, r.n_duplicates)
        for r in D.exact_dedup(df, keep_columns=["lang"]).collect()
    }
    assert rows == {1: ("en", 2), 3: ("fr", 1)}


# --- multimodal header decode ----------------------------------------------


def test_parse_image_headers_pure():
    import struct

    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR" + struct.pack(
        ">II", 640, 480
    ) + b"\x08\x06\x00\x00\x00"
    assert M._parse_image_header(png) == ("png", 640, 480)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    assert M._parse_image_header(gif) == ("gif", 320, 200)
    bmp = b"BM" + b"\x1a\x00\x00\x00" + b"\x00" * 8 + b"\x28\x00\x00\x00" + struct.pack(
        "<ii", 1024, 768
    )
    assert M._parse_image_header(bmp) == ("bmp", 1024, 768)
    jpeg = (
        b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 480, 640) + b"\x03"
    )
    assert M._parse_image_header(jpeg) == ("jpeg", 640, 480)
    assert M._parse_image_header(b"garbage")[0] == "unknown"


def test_synth_payload_roundtrip(spark):
    """JVM-built header bytes parse back to the exact dimensions through
    the Arrow mapInPandas boundary — for every supported format."""
    df = spark.createDataFrame(
        [(0, 640, 480, "png"), (1, 320, 200, "gif"), (2, 1024, 768, "bmp")],
        "doc_id long, w int, h int, f string",
    )
    payload = M.synth_image_payload(F.col("w"), F.col("h"), F.col("f"))
    out = M.decode_image(df.withColumn("payload", payload))
    rows = {r.doc_id: (r.fmt, r.width, r.height) for r in out.collect()}
    assert rows == {
        0: ("png", 640, 480),
        1: ("gif", 320, 200),
        2: ("bmp", 1024, 768),
    }


def test_decode_pixels_rejects_non_png(spark):
    # r3 gated this path behind PIL; the r4 stdlib decoder removed the gate.
    # Malformed payloads must still fail loudly, not decode garbage.
    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="(?i)png|signature|chunk"):
        M.decode_pixels(df).collect()


# --- continuous rollup, PQ, streaming dedup-within-watermark ---------------


def test_continuous_rollup_matches_direct(spark):
    """Coarse-from-fine must equal coarse-from-raw bit-for-bit (decimal
    re-summation), and reject non-nesting intervals."""
    from hbase_taggregator_spark.operators.timeseries import continuous_rollup
    from hbase_taggregator_spark.catalog.registry import T0, T_WEEK
    from hbase_taggregator_spark.sources.parquet import load_table

    events = load_table(spark, SF, "events")
    _fine, coarse = continuous_rollup(events, T0, T_WEEK, 3600, 86400)
    direct_fine, direct = continuous_rollup(events, T0, T_WEEK, 86400, 86400)
    a = {r["bucket_start_us"]: r.asDict() for r in coarse.collect()}
    b = {r["bucket_start_us"]: r.asDict() for r in direct.collect()}
    assert a == b
    with pytest.raises(ValueError, match="multiple"):
        continuous_rollup(events, T0, T_WEEK, 3600, 4000)


def test_pq_encode_is_one_partial_aggregation(spark):
    """The encode's contract: exactly ONE shuffle Exchange (the
    partial-agg argmin, one row per input row) plus the codebook
    BroadcastExchange — and zero codeword literals."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = S.pq_codebooks(emb, m=4, k=16)
    codes = S.pq_encode(emb, books, m=4)
    plan = P.physical_plan(codes)
    assert plan.count("BroadcastExchange") == 1
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    row = codes.orderBy("vec_id").first()
    # a codebook vector is its own nearest codeword in every subspace
    assert [row[f"code_{s}"] for s in range(4)] == [row["vec_id"]] * 4


def test_pq_adc_reasonable_recall(spark):
    """ADC ranking over 4 codes must beat random: recall@5 vs exact L2 on
    the fixture well above the ~5/N chance level. One cell probed by
    every query: the pq pass scores every corpus code."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    pq = ivf_pq(emb, queries, k=5, n_centroids=1, n_probe=1)
    exact = S.l2_topk(emb, queries, k=5).select("query_id", "vec_id")
    hits = exact.join(
        pq.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    ).count()
    assert hits >= 10  # 50 possible; chance is ~0.5 hit at N=500


# --- TWA, counter rate, BM25, duplicate clusters, stratified mix -----------


def _ts_df(spark, rows):
    """rows: (event_id, series, epoch_s, value) -> df with TimestampType ts."""
    return spark.createDataFrame(
        [(i, s, t * 1_000_000, v) for (i, s, t, v) in rows],
        "event_id long, event_type string, us long, value double",
    ).select(
        "event_id", "event_type",
        F.timestamp_micros(F.col("us")).alias("ts"), "value",
    )


def test_time_weighted_avg_hand_computed(spark):
    """LOCF weighting inside a bucket: v=10 holds 600s, v=20 holds the
    remaining 300s of a 900s bucket -> twa = (10*600+20*300)/900 = 40/3."""
    from hbase_taggregator_spark.operators.timeseries import time_weighted_avg

    base = 1_704_067_200
    df = _ts_df(spark, [
        (1, "a", base, 10.0),
        (2, "a", base + 600, 20.0),
        (3, "a", base + 900, 7.0),      # second bucket, single point
    ])
    out = {
        (r.event_type, r.bucket_start_us): r
        for r in time_weighted_avg(df, base, base + 1800, 900).collect()
    }
    b0 = out[("a", base * 1_000_000)]
    assert b0.n_points == 2 and b0.covered_us == 900 * 1_000_000
    assert b0.twa_value == pytest.approx(40.0 / 3.0, rel=1e-12)
    b1 = out[("a", (base + 900) * 1_000_000)]
    assert b1.covered_us == 900 * 1_000_000 and b1.twa_value == 7.0


def test_counter_rate_resets_and_buckets(spark):
    """Deltas 3, -6(reset->2), 5 with the lag crossing a bucket boundary;
    first observation contributes nothing."""
    from hbase_taggregator_spark.operators.timeseries import counter_rate

    base = 1_704_067_200
    df = _ts_df(spark, [
        (1, "c", base + 10, 5.0),
        (2, "c", base + 20, 8.0),       # +3
        (3, "c", base + 30, 2.0),       # reset -> +2
        (4, "c", base + 910, 7.0),      # next bucket, delta crosses: +5
    ])
    out = {
        r.bucket_start_us: r
        for r in counter_rate(df, base, base + 1800, 900).collect()
    }
    b0 = out[base * 1_000_000]
    assert (b0.n_deltas, b0.n_resets) == (2, 1)
    assert b0.increase == 5.0
    b1 = out[(base + 900) * 1_000_000]
    assert (b1.n_deltas, b1.n_resets, b1.increase) == (1, 0, 5.0)
    assert b1.rate_per_s == pytest.approx(5.0 / 900.0)


def test_bm25_orders_by_term_frequency(spark):
    """Same doc length: the doc with more query-term hits scores higher;
    docs without any query term are absent."""
    from hbase_taggregator_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark pad pad pad"),
            (2, "spark pad pad pad pad pad"),
            (3, "pad pad pad pad pad pad"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bm25_scores(docs, ["spark"]).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].bm25 > rows[2].bm25
    assert rows[1].n_terms_matched == rows[2].n_terms_matched == 1


def test_duplicate_components_transitive_chain(spark):
    """A 5-node path needs several propagation rounds; min label must
    reach the far end, and the disjoint pair stays its own component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (9, 8)], "id_a long, id_b long"
    )
    out = {
        r.node_id: (r.component_id, r.component_size)
        for r in D.duplicate_components(pairs).collect()
    }
    assert {out[i] for i in (1, 2, 3, 4, 5)} == {(1, 5)}
    assert out[8] == out[9] == (8, 2)


def test_stratified_sample_deterministic(spark):
    """fraction 1.0 keeps the whole stratum, 0.0/absent drops it, and the
    selection is rebuild-stable."""
    from hbase_taggregator_spark.operators.text import stratified_sample

    docs = spark.createDataFrame(
        [(i, "keep" if i % 2 else "drop") for i in range(40)],
        "doc_id long, lang string",
    )
    kept = stratified_sample(docs, "lang", {"keep": 1.0, "drop": 0.0})
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [i for i in range(40) if i % 2]
    again = sorted(
        r.doc_id
        for r in stratified_sample(docs, "lang", {"keep": 1.0, "drop": 0.0})
        .collect()
    )
    assert again == ids
    half = stratified_sample(docs, "lang", {"keep": 0.5}).collect()
    assert 0 < len(half) < 20


# --- merge upsert, heavy hitters, z-order layout ---------------------------


def test_merge_upsert_semantics_and_broadcast(spark):
    """Updates win on key, unmatched base survives, tombstones delete,
    new keys insert; with broadcast_updates the anti join must be a
    broadcast join (base never shuffles)."""
    from hbase_taggregator_spark.operators.relational import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [(2, "b2", False), (3, "c", True), (4, "d", False)],
        "k long, v string, del boolean",
    )
    merged = merge_upsert(base, updates, ["k"], delete_col="del",
                          broadcast_updates=True)
    assert {(r.k, r.v) for r in merged.collect()} == {(1, "a"), (2, "b2"), (4, "d")}
    assert P.count_nodes(merged, "BroadcastHashJoin") >= 1


def test_top_terms_ties_and_k(spark):
    """Equal counts break on the term; k limits per group."""
    from hbase_taggregator_spark.operators.text import top_terms

    docs = spark.createDataFrame(
        [(1, "x", "b b a a c"), (2, "y", "z z z q")],
        "doc_id long, lang string, text string",
    )
    got = {
        (r.lang, r.rank): (r.term, r.n_occurrences)
        for r in top_terms(docs, k=2, group_cols=("lang",)).collect()
    }
    assert got == {
        ("x", 1): ("a", 2), ("x", 2): ("b", 2),
        ("y", 1): ("z", 3), ("y", 2): ("q", 1),
    }


def test_zvalue_hand_computed(spark):
    """a=3 (11b), b=1 (01b) -> interleaved 0111b = 7; zero maps to zero."""
    from hbase_taggregator_spark.sources.layout import zvalue

    df = spark.createDataFrame([(3, 1), (0, 0)], "a long, b long")
    vals = sorted(
        r[0] for r in df.select(zvalue(["a", "b"], n_bits=2)).collect()
    )
    assert vals == [0, 7]
    with pytest.raises(ValueError, match="int64"):
        zvalue(["a", "b"], n_bits=32)


def test_zorder_files_have_disjoint_z_ranges(spark, tmp_path):
    """Range partitioning on the Morton key must yield per-file z ranges
    that do not overlap — the property min/max file skipping relies on."""
    import pyarrow.parquet as pq
    import glob

    from hbase_taggregator_spark.sources.layout import zorder_repartition

    df = spark.createDataFrame(
        [(i, i % 37, (i * 7) % 53) for i in range(4000)],
        "id long, a long, b long",
    )
    out = str(tmp_path / "z")
    zorder_repartition(df, ["a", "b"], n_bits=6, num_partitions=4).write.parquet(out)
    ranges = []
    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        zi = md.schema.names.index("zval")
        stats = [md.row_group(g).column(zi).statistics for g in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


# --- as-of directions, negative sampling -----------------------------------


def test_asof_directions_and_nearest_tie(spark):
    from hbase_taggregator_spark.operators.asof import asof_join

    left = _ts_df(spark, [(1, "u", 100, 0.0)]).select("event_id", "event_type", "ts")
    right = _ts_df(
        spark, [(91, "u", 97, 0.0), (92, "u", 102, 0.0)]
    ).select("event_type", "ts", F.col("event_id").alias("rid"))

    def match(direction, tol=None):
        out = asof_join(
            left, right, ["event_type"], "ts", "ts",
            right_cols=["rid"], direction=direction, tolerance_us=tol,
        ).collect()[0]
        return out["rid_right"]

    assert match("backward") == 91
    assert match("forward") == 92
    assert match("nearest") == 92          # 2s forward beats 3s backward
    assert match("nearest", tol=1_000_000) is None  # 2s > 1s tolerance
    # exact tie -> backward, like pandas
    right_tie = _ts_df(
        spark, [(91, "u", 98, 0.0), (92, "u", 102, 0.0)]
    ).select("event_type", "ts", F.col("event_id").alias("rid"))
    out = asof_join(
        left, right_tie, ["event_type"], "ts", "ts",
        right_cols=["rid"], direction="nearest",
    ).collect()[0]
    assert out["rid_right"] == 91
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, ["event_type"], "ts", "ts", direction="sideways")


def test_negative_pairs_deterministic_no_self(spark):
    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    a = S.negative_pairs(docs, k=3, n_buckets=4).collect()
    b = S.negative_pairs(docs, k=3, n_buckets=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r.neg_id != r.anchor for r in a)
    assert {r.neg_idx for r in a} == {0, 1, 2}
    # one winner per (anchor, idx)
    keys = [(r.anchor, r.neg_idx) for r in a]
    assert len(keys) == len(set(keys))


def test_sample_frames_demux_and_magic_guard(spark):
    """Every-2nd-frame sampling demuxes the right offsets (doc 3 -> 7
    frames -> idx 0,2,4,6) and foreign containers fail loudly."""
    from hbase_taggregator_spark.operators.multimodal import (
        sample_frames,
        synth_video_payload,
    )

    df = spark.createDataFrame([(3,)], "doc_id long").withColumn(
        "payload", synth_video_payload(F.col("doc_id"))
    )
    rows = sample_frames(df, every_n=2).collect()
    assert [r.frame_idx for r in sorted(rows, key=lambda r: r.frame_idx)] == [0, 2, 4, 6]
    assert all(r.frame_len == 16 for r in rows)
    bad = spark.createDataFrame([(1, b"RIFFxxxx")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="magic"):
        sample_frames(bad, every_n=2).collect()


# --- sketches: bloom runtime filter, count-min -----------------------------


def test_bloom_filter_no_false_negatives_map_side(spark):
    """Every true member survives; the probe plan has no join and no
    exchange (pure map-side runtime filter); m validation fails loudly."""
    from hbase_taggregator_spark.operators.sketch import bloom_filter_semi

    build = spark.createDataFrame([(i,) for i in range(0, 100, 7)], "k long")
    probe = spark.createDataFrame([(i,) for i in range(100)], "k long")
    kept = bloom_filter_semi(probe, build, "k", "k", m=1024, k=3)
    got = {r.k for r in kept.collect()}
    assert set(range(0, 100, 7)) <= got          # no false negatives
    assert len(got) < 100                        # actually filters
    assert P.count_nodes(kept, "Exchange") == 0
    assert P.count_nodes(kept, "Join") == 0
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_filter_semi(probe, build, "k", "k", m=100)


def test_count_min_overcounts_only_exact_when_wide(spark):
    """Estimates never undercount; with m large vs keys they are exact."""
    from hbase_taggregator_spark.operators.sketch import (
        count_min_lookup,
        count_min_sketch,
    )

    occ = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)], "term string"
    )
    sk = count_min_sketch(occ, "term", m=4096, d=4)
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "term string")
    got = {r.term: r.cm_estimate for r in count_min_lookup(sk, keys, "term", m=4096, d=4).collect()}
    assert got["a"] == 5 and got["b"] == 3 and got["c"] == 1
    assert got["zz"] >= 0


# --- pandas UDAF, linear trend, rolling z-score ----------------------------


def test_udaf_weighted_cents_order_free(spark):
    from hbase_taggregator_spark.functions.udafs import int_sum, weighted_cents_sum

    df = spark.createDataFrame(
        [("g", 1.10, 2), ("g", 2.25, 3), ("g", 0.05, 1)],
        "g string, v double, w long",
    ).repartition(3)
    r = df.groupBy("g").agg(
        weighted_cents_sum("v", "w").alias("s"), int_sum("w").alias("tw")
    ).collect()[0]
    assert r.s == 110 * 2 + 225 * 3 + 5 * 1
    assert r.tw == 6


def test_linear_trend_recovers_known_slope(spark):
    """y = 0.5*x + 3 exactly (cents-exact values) -> slope 0.5/s."""
    from hbase_taggregator_spark.operators.timeseries import linear_trend

    base = 1_704_067_200
    rows = [(i, "s", base + i, 3.0 + 0.5 * i) for i in range(0, 100, 7)]
    df = _ts_df(spark, rows)
    out = linear_trend(df, base, base + 1000).collect()[0]
    assert out.n == len(rows)
    assert out.slope_per_s == pytest.approx(0.5, rel=1e-9)


def test_rolling_zscore_flags_spike(spark):
    """A flat series with one spike flags exactly the spike."""
    from hbase_taggregator_spark.operators.timeseries import (
        rolling_zscore_anomalies,
    )

    base = 1_704_067_200
    rows = [(i, "s", base + i, 10.0) for i in range(30)]
    rows[20] = (20, "s", base + 20, 90.0)
    df = _ts_df(spark, rows)
    got = rolling_zscore_anomalies(df, base, base + 100, threshold=2.0).collect()
    assert [r.event_id for r in got] == [20]
    assert got[0].zscore > 2


def test_lttb_endpoints_counts_and_spike(spark):
    """LTTB keeps both endpoints, emits exactly n_out points per series,
    passes short series through untouched, and a prominent spike always
    survives downsampling."""
    from hbase_taggregator_spark.operators.timeseries import lttb_downsample

    base = 1_704_067_200
    rows = [(i, "s", base + i * 10, 10.0 + (i % 3)) for i in range(200)]
    rows[77] = (77, "s", base + 770, 500.0)        # spike
    short = [(1000 + i, "t", base + i * 10, 1.0) for i in range(5)]
    df = _ts_df(spark, rows + short)

    out = lttb_downsample(df, n_out=20).collect()
    s_pts = sorted([r for r in out if r.event_type == "s"], key=lambda r: r.ts_us)
    t_pts = [r for r in out if r.event_type == "t"]
    assert len(s_pts) == 20 and len(t_pts) == 5   # downsampled / passthrough
    assert s_pts[0].event_id == 0 and s_pts[-1].event_id == 199
    assert any(r.event_id == 77 for r in s_pts)   # spike survives
    # deterministic across runs
    again = sorted(
        [r for r in lttb_downsample(df, n_out=20).collect()
         if r.event_type == "s"], key=lambda r: r.ts_us,
    )
    assert [r.event_id for r in again] == [r.event_id for r in s_pts]


def test_merge_rollups_equals_from_scratch(spark):
    """Merging disjoint-slice rollups is bit-identical to one full rollup;
    empty input rejected."""
    from hbase_taggregator_spark.operators.timeseries import (
        continuous_rollup,
        merge_rollups,
    )
    from hbase_taggregator_spark.sources.parquet import load_table

    T0, T_MID, T_END = 1_704_067_200, 1_704_067_200 + 84 * 3600, 1_704_067_200 + 7 * 86400
    ev = load_table(spark, SF, "events")
    f1, _ = continuous_rollup(ev, T0, T_MID, 3600, 3600)
    f2, _ = continuous_rollup(ev, T_MID, T_END, 3600, 3600)
    full, _ = continuous_rollup(ev, T0, T_END, 3600, 3600)
    merged = merge_rollups([f1, f2]).select(
        "bucket_start_us", "max_value", "min_value", "sum_dec", "count_value"
    )
    a = {r.bucket_start_us: r.asDict() for r in merged.collect()}
    b = {
        r.bucket_start_us: r.asDict()
        for r in full.select(
            "bucket_start_us", "max_value", "min_value", "sum_dec", "count_value"
        ).collect()
    }
    assert a == b
    with pytest.raises(ValueError, match="at least one"):
        merge_rollups([])


# --- truncated EWMA / largest gaps / SCD2 (round-3 late wave) --------------


def _mk_events(spark, rows):
    """rows: (event_id, us, user_id, event_type, value)."""
    return spark.createDataFrame(
        [(i, _us_ts(us), u, t, v) for i, us, u, t, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def _us_ts(us):
    import datetime as dt

    return dt.datetime.fromtimestamp(us / 1_000_000, dt.timezone.utc).replace(
        tzinfo=None
    )


def test_ewma_truncated_matches_hand_fixed_point(spark):
    from hbase_taggregator_spark.operators.timeseries import ewma_truncated

    t0 = 1_704_067_200  # 2024-01-01
    us0 = t0 * 1_000_000
    # one series, three hourly buckets with means 10, 20, 40
    rows = [
        (1, us0 + 10, 1, "a", 10.0),
        (2, us0 + 3_600_000_000 + 10, 1, "a", 20.0),
        (3, us0 + 2 * 3_600_000_000 + 10, 1, "a", 40.0),
    ]
    got = (
        ewma_truncated(_mk_events(spark, rows), t0, t0 + 3 * 3600, 3600,
                       alpha=0.3, k=3)
        .orderBy("bucket_start_us")
        .collect()
    )
    # fixed-point weights: 1e6, 7e5, 49e4; means in micro-units
    def fp(xs):  # newest first
        wq = [1_000_000, 700_000, 490_000]
        num = sum(x * w for x, w in zip(xs, wq))
        den = sum(w for x, w in zip(xs, wq))
        return num / den / 1_000_000.0
    assert [round(r.ewma, 12) for r in got] == [
        round(e, 12)
        for e in (fp([10_000_000]), fp([20_000_000, 10_000_000]),
                  fp([40_000_000, 20_000_000, 10_000_000]))
    ]
    assert [r.bucket_avg for r in got] == [10.0, 20.0, 40.0]


def test_ewma_validates_params(spark):
    from hbase_taggregator_spark.operators.timeseries import ewma_truncated

    df = _mk_events(spark, [])
    with pytest.raises(ValueError):
        ewma_truncated(df, 0, 10, 1, alpha=1.5)
    with pytest.raises(ValueError):
        ewma_truncated(df, 0, 10, 1, k=0)


def test_largest_gaps_ranks_and_bounds(spark):
    from hbase_taggregator_spark.operators.timeseries import largest_gaps

    t0 = 1_704_067_200
    us0 = t0 * 1_000_000
    # series 'a': arrivals at +0s, +10s, +100s, +101s -> gaps 10s, 90s, 1s
    rows = [
        (1, us0, 1, "a", 1.0),
        (2, us0 + 10_000_000, 1, "a", 1.0),
        (3, us0 + 100_000_000, 1, "a", 1.0),
        (4, us0 + 101_000_000, 1, "a", 1.0),
    ]
    got = (
        largest_gaps(_mk_events(spark, rows), t0, t0 + 3600, n=2)
        .select("gap_rank", "gap_us")
        .collect()
    )
    assert [(r.gap_rank, r.gap_us) for r in got] == [
        (1, 90_000_000), (2, 10_000_000)
    ]


def test_scd2_runs_and_open_interval(spark):
    from hbase_taggregator_spark.operators.relational import scd2_from_events

    t0 = 1_704_067_200
    us0 = t0 * 1_000_000
    # user 1: a a b a  -> runs (a,2) (b,1) (a,1); last interval open
    rows = [
        (1, us0 + 0, 1, "a", 1.0),
        (2, us0 + 1_000_000, 1, "a", 1.0),
        (3, us0 + 2_000_000, 1, "b", 1.0),
        (4, us0 + 3_000_000, 1, "a", 1.0),
    ]
    got = scd2_from_events(_mk_events(spark, rows)).collect()
    assert [(r.run_id, r.event_type, r.n_events) for r in got] == [
        (1, "a", 2), (2, "b", 1), (3, "a", 1)
    ]
    assert got[0].valid_to_us == got[1].valid_from_us
    assert got[-1].valid_to_us is None


def test_profile_columns_one_scan_counts(spark):
    from hbase_taggregator_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None)], "id long, s string"
    )
    got = {r.column_name: r for r in profile_columns(df, ["id", "s"]).collect()}
    assert got["id"].n_rows == 3 and got["id"].n_nonnull == 3
    assert got["id"].n_distinct == 3 and got["id"].min_repr == "1"
    assert got["s"].n_nonnull == 2 and got["s"].n_distinct == 1
    assert got["s"].max_repr == "a"
    with pytest.raises(ValueError):
        profile_columns(df, [])


def test_kmv_exact_below_k_and_estimate_close(spark):
    from hbase_taggregator_spark.operators.sketch import kmv_distinct

    small = spark.createDataFrame([(i % 7,) for i in range(50)], "k long")
    r = kmv_distinct(small, "k", k=64).collect()[0]
    assert r.n_tracked == 7 and r.estimate_distinct == 7.0
    big = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    e = kmv_distinct(big, "k", k=256).collect()[0].estimate_distinct
    assert abs(e - 5000) / 5000 < 0.2  # ~1/sqrt(k) expected error
    with pytest.raises(ValueError):
        kmv_distinct(small, "k", k=1)


def test_feature_hash_buckets_bounded_and_deterministic(spark):
    from hbase_taggregator_spark.operators.text import feature_hash_counts

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a")], "doc_id long, text string"
    )
    r1 = feature_hash_counts(df, dim=8).collect()
    r2 = feature_hash_counts(df, dim=8).collect()
    assert r1 == r2
    assert all(0 <= r.bucket < 8 for r in r1)
    # 'a' hashes identically across docs; doc 1 has tf=2 on that bucket
    by_doc = {(r.doc_id, r.bucket): r.tf for r in r1}
    (b_a,) = [b for (d, b), tf in by_doc.items() if d == 2]
    assert by_doc[(1, b_a)] == 2
    with pytest.raises(ValueError):
        feature_hash_counts(df, dim=0)


def test_fuzzy_match_blocking_and_distance(spark):
    from hbase_taggregator_spark.operators.dedup import fuzzy_match_candidates

    df = spark.createDataFrame(
        [
            (1, "block-aaaa"),
            (2, "block-aaab"),   # dist 1 from id 1, same block
            (3, "block-accc"),   # same block, dist 3 -> dropped
            (4, "other-aaaa"),   # different block -> never compared
        ],
        "id long, name string",
    )
    got = [
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_match_candidates(df, "name", "id", prefix_len=6).collect()
    ]
    assert got == [(1, 2, 1)]


def test_udtf_sentence_split_indices_skip_blanks(spark):
    from hbase_taggregator_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    df = spark.createDataFrame(
        [(1, "One. Two.  Three"), (2, "Dot.   .  tail")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("_udtf_t")
    got = sorted(
        (r.doc_id, r.sent_idx, r.sentence)
        for r in spark.sql(
            "SELECT s.* FROM _udtf_t d, LATERAL split_sentences(d.doc_id, d.text) s"
        ).collect()
    )
    # doc 2: segments 'Dot', '', 'tail' -> blank keeps its index slot
    assert got == [
        (1, 1, "One"), (1, 2, "Two"), (1, 3, "Three"),
        (2, 1, "Dot"), (2, 3, "tail"),
    ]


def test_interval_overlap_join_partial_top_bucket(spark):
    from hbase_taggregator_spark.operators.relational import interval_overlap_join

    # a's only overlap with b lies inside b's top PARTIAL grid bucket:
    # grid=10, b=[5,12) covers buckets 0,1; a=[10,11) lives in bucket 1
    a = spark.createDataFrame(
        [(1, 101, 10, 11), (1, 102, 30, 40)],
        "k long, a_id long, a_lo long, a_hi long",
    )
    b = spark.createDataFrame(
        [(1, 201, 5, 12), (1, 202, 35, 36), (2, 203, 10, 11)],
        "k long, b_id long, b_lo long, b_hi long",
    )
    got = [
        (r.a_id, r.b_id, r.overlap_us)
        for r in interval_overlap_join(a, b, ["k"], 10).collect()
    ]
    assert got == [(101, 201, 1), (102, 202, 1)]
    with pytest.raises(ValueError):
        interval_overlap_join(a, b, ["k"], 0)


def test_interval_overlap_join_no_duplicate_pairs(spark):
    from hbase_taggregator_spark.operators.relational import interval_overlap_join

    # overlap spans 3 buckets -> must still emit exactly one pair row
    a = spark.createDataFrame([(1, 1, 0, 30)], "k long, a_id long, a_lo long, a_hi long")
    b = spark.createDataFrame([(1, 9, 0, 30)], "k long, b_id long, b_lo long, b_hi long")
    rows = interval_overlap_join(a, b, ["k"], 10).collect()
    assert len(rows) == 1 and rows[0].overlap_us == 30


def test_kmv_set_ops_exact_below_k_and_estimates(spark):
    from hbase_taggregator_spark.operators.sketch import kmv_set_ops

    a = spark.createDataFrame([(i,) for i in range(100)], "k long")
    b = spark.createDataFrame([(i,) for i in range(50, 150)], "k long")
    # union 150 < k=256 -> everything exact
    r = kmv_set_ops(a, b, "k", k=256).collect()[0]
    assert r.n_tracked == 150 and r.est_union == 150.0
    assert r.n_shared == 50 and r.est_intersection == 50.0
    # k=32 -> estimates within ~1/sqrt(k) of truth
    r2 = kmv_set_ops(a, b, "k", k=32).collect()[0]
    assert abs(r2.est_union - 150) / 150 < 0.5
    assert 0.0 < r2.est_jaccard < 1.0
    with pytest.raises(ValueError):
        kmv_set_ops(a, b, "k", k=1)


def test_mad_outliers_flags_spike_robustly(spark):
    from hbase_taggregator_spark.operators.timeseries import mad_outliers

    # 9 values near 10 plus one huge spike; MAD ignores the spike
    rows = [(i, "a", 10.0 + (i % 3) * 0.1) for i in range(9)] + [(9, "a", 1e6)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    r = mad_outliers(df).collect()[0]
    assert r.med == pytest.approx(10.1) and r.n_points == 10
    assert r.n_outliers == 1  # only the spike exceeds 3*1.4826*MAD
    assert 0.0 < r.mad < 0.2


def test_kmv_grouped_exact_below_k(spark):
    from hbase_taggregator_spark.operators.sketch import kmv_grouped_distinct

    df = spark.createDataFrame(
        [("a", i % 5) for i in range(40)] + [("b", i) for i in range(500)],
        "g string, k long",
    )
    got = {r.g: r for r in kmv_grouped_distinct(df, ["g"], "k", k=64).collect()}
    assert got["a"].estimate_distinct == 5.0  # below k -> exact
    assert abs(got["b"].estimate_distinct - 500) / 500 < 0.4


def test_fuzzy_match_block_cap_drops_megablock(spark):
    from hbase_taggregator_spark.operators.dedup import fuzzy_match_candidates

    rows = [(i, f"same-{i % 2}") for i in range(40)]  # 2 blocks of 20 (prefix 'same-')
    rows += [(100, "okblk-a"), (101, "okblk-b")]
    df = spark.createDataFrame(rows, "id long, name string")
    # prefix 5 puts all 40 'same-*' rows in ONE block -> dropped by cap 10;
    # the 2-row block survives and verifies
    got = [
        (r.id_a, r.id_b)
        for r in fuzzy_match_candidates(
            df, "name", "id", prefix_len=5, max_dist=1, max_block=10
        ).collect()
    ]
    assert got == [(100, 101)]


def test_kmv_set_ops_empty_inputs_no_nan(spark):
    from hbase_taggregator_spark.operators.sketch import kmv_set_ops

    empty = spark.createDataFrame([], "k long")
    r = kmv_set_ops(empty, empty, "k", k=16).collect()[0]
    assert (r.est_union, r.est_jaccard, r.est_intersection) == (0.0, 0.0, 0.0)


def test_negative_pairs_rejects_out_of_range_ids(spark):
    from hbase_taggregator_spark.operators.similarity import negative_pairs

    bad = spark.createDataFrame([(10**13,), (1,)], "doc_id long")
    with pytest.raises(ValueError, match="packed argmin"):
        negative_pairs(bad, k=1)


def test_profile_columns_hostile_names(spark):
    from hbase_taggregator_spark.operators.profile import profile_columns

    df = spark.createDataFrame([(1, "x")], ["user name", "a-b'c"])
    got = {r.column_name: r.n_nonnull for r in profile_columns(df, ["user name", "a-b'c"]).collect()}
    assert got == {"user name": 1, "a-b'c": 1}


def test_interval_overlap_join_negative_bounds(spark):
    from hbase_taggregator_spark.operators.relational import interval_overlap_join

    # a=[-15,-4) overlaps b=[-6,-5); truncating division would misplace
    # the buckets of negative bounds and miss the pair
    a = spark.createDataFrame([(1, 1, -15, -4)], "k long, a_id long, a_lo long, a_hi long")
    b = spark.createDataFrame([(1, 9, -6, -5)], "k long, b_id long, b_lo long, b_hi long")
    rows = interval_overlap_join(a, b, ["k"], 10).collect()
    assert [(r.a_id, r.b_id, r.overlap_us) for r in rows] == [(1, 9, 1)]


def test_fuzzy_entity_resolution_merges_chains(spark):
    """A~B and B~C (but A!~C directly) must resolve to ONE entity."""
    from hbase_taggregator_spark.operators.dedup import (
        duplicate_components,
        fuzzy_match_candidates,
    )

    df = spark.createDataFrame(
        [(1, "blockx-aa"), (2, "blockx-ab"), (3, "blockx-bb"), (4, "blockx-zz")],
        "id long, name string",
    )
    pairs = fuzzy_match_candidates(df, "name", "id", prefix_len=7, max_dist=1)
    comp = {r.node_id: r.component_id for r in duplicate_components(pairs).collect()}
    # aa~ab~bb chain -> one component rooted at min id 1; zz is isolated
    assert comp == {1: 1, 2: 1, 3: 1}


def test_queries_r3_direct_import_is_safe():
    """The late-wave queries (asof, band joins, dedup, profiling) now sit
    mostly in the relational catalog module; importing it FIRST must still
    leave the gate order applied (regression: AssertionError 'gate window
    names drifted' mid-circular-import). Needs a fresh interpreter — this
    process already has the package imported."""
    import_catalog_module_first("relational")
