"""Round-4 additions: IVF centroid-literal scalability, neardup_pairs
scale guard, asof strict-null mode, KMV null-key handling, negative_pairs
id-type guard, pure-Python PNG pixel decode, HBase row-shape contract."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from conftest import import_catalog_module_first
from hbase_taggregator_spark import plans as P
from hbase_taggregator_spark.operators import similarity as S
from hbase_taggregator_spark.operators import sketch as K

SF = "/root/testdata/sf0.001"


# --- ivf_assign must scale in nlist × dim (VERDICT r3 "What's wrong" #1) ---


def test_ivf_assign_large_nlist_analysis_and_exec(spark):
    """At a realistic IVF size (nlist=1024, dim=128) the assignment plan
    must analyze and run in seconds: the centroids are THREE Literal
    nodes, not O(nlist × dim) unrolled expression terms (which blew up
    Catalyst analysis well before execution). Still zero Exchange."""
    import random

    rnd = random.Random(7)
    nlist, dim, nrows = 1024, 128, 20
    cents = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(nlist)],
        "cent_id long, cvec array<double>",
    )
    corpus = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(nrows)],
        "vec_id long, embedding array<double>",
    )
    t0 = time.time()
    assigned = S.ivf_assign(corpus, cents, n_probe=1)
    assert P.count_nodes(assigned, "Exchange") == 0  # forces analysis
    rows = assigned.collect()
    wall = time.time() - t0
    assert len(rows) == nrows
    assert all(0 <= r["cent_id"] < nlist for r in rows)
    # generous bound: the unrolled form spent minutes in analysis alone
    assert wall < 90, f"ivf_assign at nlist={nlist} took {wall:.0f}s"


def test_ivf_assign_empty_centroids_raises(spark):
    corpus = spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id long, embedding array<double>"
    )
    empty = spark.createDataFrame([], "cent_id long, cvec array<double>")
    with pytest.raises(ValueError, match="non-empty centroid"):
        S.ivf_assign(corpus, empty)


# --- neardup_pairs refuses unbounded all-pairs (VERDICT r3 #2) -------------


def test_neardup_pairs_raises_above_max_rows(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="lsh_neardup_pairs"):
        S.neardup_pairs(emb, max_rows=10)


def test_neardup_pairs_small_input_unchanged(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(30)
    got = S.neardup_pairs(emb, threshold=0.5).collect()
    for r in got:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.5


def test_neardup_pairs_cap_disabled(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(5)
    # explicit opt-out keeps the exactness-baseline escape hatch
    assert S.neardup_pairs(emb, max_rows=None).count() >= 0


# --- KMV sketches ignore NULL keys (ADVICE r3) -----------------------------


def test_kmv_distinct_ignores_null_keys(spark):
    df = spark.createDataFrame(
        [(str(i),) for i in range(100)] + [(None,)] * 5, "k string"
    )
    clean = spark.createDataFrame([(str(i),) for i in range(100)], "k string")
    with_nulls = K.kmv_distinct(df, "k", k=16).collect()[0]
    without = K.kmv_distinct(clean, "k", k=16).collect()[0]
    assert with_nulls["n_tracked"] == 16  # not inflated by NULL hashes
    assert with_nulls["kth_hash"] == without["kth_hash"]
    assert with_nulls["estimate_distinct"] == without["estimate_distinct"]


def test_kmv_grouped_ignores_null_keys(spark):
    df = spark.createDataFrame(
        [("a", str(i)) for i in range(40)] + [("a", None), ("b", None)],
        "g string, k string",
    )
    rows = {r["g"]: r for r in K.kmv_grouped_distinct(df, ["g"], "k", k=8).collect()}
    assert "b" not in rows  # group with only NULL keys vanishes, not n=1
    assert rows["a"]["n_tracked"] == 8


# --- asof_join strict_nulls closes the NULL-carry footgun ------------------


def _asof_fixture(spark, with_null):
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:05"), (1, "2024-01-01 00:00:15")],
        "k int, lts string",
    ).select("k", F.col("lts").cast("timestamp").alias("lts"))
    rrows = [(1, "2024-01-01 00:00:00", 10.0),
             (1, "2024-01-01 00:00:10", None if with_null else 20.0)]
    right = spark.createDataFrame(
        rrows, "k int, rts string, price double"
    ).select("k", F.col("rts").cast("timestamp").alias("rts"), "price")
    return left, right


def test_asof_strict_nulls_raises_on_null_carry(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from hbase_taggregator_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark, with_null=True)
    out = asof_join(
        left, right, ["k"], "lts", "rts", strict_nulls=True
    )
    with pytest.raises((Py4JJavaError, PySparkException)) as ei:
        out.collect()
    assert "strict_nulls" in str(ei.value)


def test_asof_strict_nulls_clean_input_matches_default(spark):
    from hbase_taggregator_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark, with_null=False)
    strict = asof_join(left, right, ["k"], "lts", "rts", strict_nulls=True)
    loose = asof_join(left, right, ["k"], "lts", "rts")
    assert sorted(map(tuple, strict.collect())) == sorted(
        map(tuple, loose.collect())
    )


def test_asof_default_mode_still_leaks_documented_caveat(spark):
    """The documented caveat: without strict mode the NULL price at :10
    carries the :00 value forward — pinned so the docs stay honest."""
    from hbase_taggregator_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark, with_null=True)
    rows = {
        r["lts"].second: r["price_right"]
        for r in asof_join(left, right, ["k"], "lts", "rts").collect()
    }
    assert rows[15] == 10.0  # leaked from the :00 row


# --- pure-Python PNG pixel decode (VERDICT r3 "What's missing" #3) ---------


def test_png_roundtrip_all_filters():
    """Encoder cycles all five PNG filter types; decoder must unfilter
    every one back to the arithmetic pixel formula. Pure Python — no
    Spark, no codec library."""
    from hbase_taggregator_spark.operators import multimodal as M

    for doc_id in (0, 13, 499):
        w, h = 8 + doc_id % 16, 6  # h=6 > 5 → every filter type used
        b = M.synth_png_bytes(doc_id, w, h)
        dw, dh, px = M._png_decode_gray(b)
        assert (dw, dh) == (w, h)
        assert bytes(px) == bytes(
            (doc_id * 7 + y * 31 + x * 13) % 256
            for y in range(h)
            for x in range(w)
        )


def test_png_decode_rejects_corruption():
    from hbase_taggregator_spark.operators import multimodal as M

    good = bytearray(M.synth_png_bytes(3, 10, 6))
    good[30] ^= 0xFF  # flip a byte inside IHDR → CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        M._png_decode_gray(bytes(good))
    with pytest.raises(ValueError, match="signature"):
        M._png_decode_gray(b"JUNKJUNKJUNKJUNK")


def test_decode_pixels_spark_path(spark):
    """The mapInPandas decode path: byte-real PNGs in, exact integer
    summaries out, matching the arithmetic formula."""
    from hbase_taggregator_spark.operators import multimodal as M

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(6)
    out = {
        r["doc_id"]: r
        for r in M.decode_pixels(M.synth_png_images(docs)).collect()
    }
    assert len(out) == 6
    for doc_id, r in out.items():
        w, h = 8 + doc_id % 16, 4 + doc_id % 12
        px = [
            (doc_id * 7 + y * 31 + x * 13) % 256
            for y in range(h)
            for x in range(w)
        ]
        assert (r["width"], r["height"]) == (w, h)
        assert r["n_pixels"] == w * h
        assert r["pixel_sum"] == sum(px)
        assert r["pixel_checksum"] == sum((i + 1) * p for i, p in enumerate(px))


# --- gate order applies on every import entry point ------------------------


@pytest.mark.parametrize(
    "mod",
    [
        # id: the module that used to register the queries; value: the
        # catalog module that now holds most of them
        pytest.param("relational", id="queries"),
        pytest.param("relational", id="queries_ext"),
        pytest.param("relational", id="queries_r3"),
        pytest.param("text", id="queries_r4"),
        pytest.param("text", id="queries_r5"),
        pytest.param("timeseries", id="queries_r6"),
        pytest.param("text", id="queries_r7"),
        pytest.param("similarity", id="queries_r8"),
        pytest.param("similarity", id="queries_r9"),
        pytest.param("similarity", id="queries_r10"),
        pytest.param("similarity", id="queries_r11"),
    ],
)
def test_gate_window_applied_on_every_import_path(mod):
    """Whichever catalog module an entry point imports first, the gate
    order and the oracle census must hold, so they are asserted per path
    in a fresh interpreter."""
    import_catalog_module_first(mod)


# --- HBase connector row-shape contract without the jar --------------------


def _hbase_cells(spark, events):
    """events → cell-level fixture rows: 12-byte rowkey (8-byte BE
    event_id + 4-byte BE epoch-seconds, mask '000000001111') with the
    value as a cf-qualified double cell — the reference's physical
    layout, one cell per event."""
    from hbase_taggregator_spark.functions.decoders import encode_value
    from hbase_taggregator_spark.sources.rowkey import encode_rowkey

    return events.select(
        F.concat(
            encode_value(F.col("event_id"), "long_be"),
            encode_rowkey(b"", F.expr("unix_micros(ts) div 1000000")),
        ).alias("rowkey"),
        F.lit("d").alias("cf"),
        F.lit("v").alias("qualifier"),
        encode_value(F.col("value"), "double_bits_be").alias("value"),
        F.lit(1).cast("long").alias("cell_ts"),
    )


def test_hbase_fixture_row_shape_through_table_from_rowkey(spark):
    """The full no-jar contract chain: catalog JSON → cell pivot →
    (binary rowkey, typed value) row shape → mask timestamp decode →
    bucketed aggregation. Must reproduce the plain .table() path on the
    same events with second-floored timestamps — any error in the cell
    pivot, the double round-trip, or the mask decode breaks equality."""
    from hbase_taggregator_spark.operators.timeseries import TimeseriesAggregator
    from hbase_taggregator_spark.catalog.registry import T0, T_WEEK
    from hbase_taggregator_spark.sources.hbase import (
        hbase_catalog,
        load_hbase_fixture,
    )

    events = spark.read.parquet(f"{SF}/events.parquet")
    catalog = hbase_catalog(
        "metrics",
        {
            "rowkey": ("rowkey", "key", "binary"),
            "value": ("d", "v", "double"),
        },
    )
    table = load_hbase_fixture(spark, catalog, _hbase_cells(spark, events))
    assert dict(table.dtypes) == {"rowkey": "binary", "value": "double"}

    tsa = TimeseriesAggregator(spark)
    got = (
        tsa.table_from_rowkey(table, "000000001111")
        .range(T0, T_WEEK)
        .interval(3600)
        .agg(count="n", sum="s")
        .collect()
    )
    floored = events.withColumn(
        "ts", F.timestamp_seconds(F.expr("unix_micros(ts) div 1000000"))
    )
    want = (
        tsa.table(floored).range(T0, T_WEEK).interval(3600)
        .agg(count="n", sum="s")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_hbase_fixture_latest_version_wins_and_types_decode(spark):
    """Multi-version semantics (newest cell_ts shadows older — the
    reference's multi-version read, SURVEY §2.1 #18) and per-type decode
    for bigint / string / int catalog columns."""
    from hbase_taggregator_spark.functions.decoders import encode_value
    from hbase_taggregator_spark.sources.hbase import (
        CELL_SCHEMA,
        hbase_catalog,
        load_hbase_fixture,
    )

    k = b"\x00\x00\x00\x01"
    cells = spark.createDataFrame(
        [
            (k, "d", "n", (100).to_bytes(8, "big"), 1),
            (k, "d", "n", (200).to_bytes(8, "big"), 5),  # newest wins
            (k, "d", "s", b"hello", 1),
            (k, "m", "i", (-7 & 0xFFFFFFFF).to_bytes(4, "big"), 1),
            (k, "d", "ignored_cf_qual", b"\x00" * 8, 9),
        ],
        CELL_SCHEMA,
    )
    catalog = hbase_catalog(
        "t",
        {
            "rowkey": ("rowkey", "key", "binary"),
            "n": ("d", "n", "bigint"),
            "s": ("d", "s", "string"),
            "i": ("m", "i", "int"),
        },
    )
    rows = load_hbase_fixture(spark, catalog, cells).collect()
    assert len(rows) == 1
    r = rows[0]
    assert bytes(r["rowkey"]) == k
    assert r["n"] == 200
    assert r["s"] == "hello"
    assert r["i"] == -7
    # encode_value round-trip sanity for the bigint path used above
    assert (100).to_bytes(8, "big") == bytes(
        spark.range(1).select(encode_value(F.lit(100), "long_be")).first()[0]
    )


# --- negative_pairs id-type guard (ADVICE r3) ------------------------------


def test_negative_pairs_rejects_string_ids(spark):
    df = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    with pytest.raises(TypeError, match="numeric"):
        S.negative_pairs(df, k=1)


# --- SQL entry point (engine.Engine) — VERDICT r3 "What's missing" #5 ------


def test_engine_sql_views_and_passthrough(spark):
    from hbase_taggregator_spark.engine import Engine

    eng = Engine(spark, SF)
    # every catalog table is SQL-addressable
    n = eng.sql("SELECT COUNT(*) AS n FROM nation").first()["n"]
    assert n == 25
    # joins over views behave like the DataFrame plans (filter pushes down)
    got = eng.sql("""
        SELECT r_name, COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
    """).collect()
    assert len(got) == 5 and all(r["n_nations"] == 5 for r in got)
    # events view got the same nanos→micros timestamp normalization the
    # DataFrame loader applies — unix_micros works directly in SQL
    row = eng.sql(
        "SELECT MIN(unix_micros(ts)) AS lo FROM events"
    ).first()
    assert row["lo"] is not None and row["lo"] > 0


def test_engine_view_prefix_isolation(spark):
    from hbase_taggregator_spark.engine import Engine

    Engine(spark, SF, view_prefix="a_", tables=("nation",))
    Engine(spark, SF, view_prefix="b_", tables=("region",))
    assert spark.sql("SELECT COUNT(*) AS n FROM a_nation").first()["n"] == 25
    assert spark.sql("SELECT COUNT(*) AS n FROM b_region").first()["n"] == 5


def test_engine_bucketed_view_matches_dataframe_path(spark):
    """The SQL-published rollup view is the SAME plan as the programmatic
    TimeseriesAggregator query — identical rows, and the view reference
    keeps the pushed-down time filter on the parquet scan."""
    from hbase_taggregator_spark.engine import Engine
    from hbase_taggregator_spark.operators.timeseries import (
        TimeseriesAggregator,
    )
    from hbase_taggregator_spark.catalog.registry import T0, T_WEEK

    eng = Engine(spark, SF)
    eng.register_bucketed_view(
        "ev_hourly_t", T0, T_WEEK, 3600,
        verbs={"max": "mx", "count": "cnt"},
    )
    via_sql = eng.sql(
        "SELECT bucket_start_us, mx, cnt FROM ev_hourly_t ORDER BY bucket_start_us"
    ).collect()
    direct = (
        TimeseriesAggregator(spark)
        .table(eng.tables["events"])
        .range(T0, T_WEEK)
        .interval(3600)
        .agg(max="mx", count="cnt")
        .select("bucket_start_us", "mx", "cnt")
        .orderBy("bucket_start_us")
        .collect()
    )
    assert via_sql == direct and len(direct) > 0


# --- round-4 wave 2: semantic dedup / SimHash pairs / decontamination /
# sampling / shuffle / quarantined ingest ------------------------------------


def test_semdedup_keeps_min_id_within_cell(spark):
    """Two near-identical vectors sharing a cell collapse to the smaller
    id; a vector in a different cell is untouched even if identical to
    one there (SemDeDup only compares within a cluster)."""
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cent_id long, cvec array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (10, [0.9, 0.1]),   # cell 0
            (11, [0.91, 0.1]),  # cell 0, near-dup of 10 -> dropped
            (12, [0.1, 0.9]),   # cell 1, survives (other cell)
            (13, [-0.5, 0.4]),  # cell 1, dissimilar to 12 -> survives
        ],
        "vec_id long, embedding array<double>",
    )
    out = S.semdedup(corpus, cents, threshold=0.99)
    assert {(r.vec_id, r.cent_id) for r in out.collect()} == {
        (10, 0), (12, 1), (13, 1)
    }


def test_simhash_pairs_match_bruteforce_hamming(spark):
    """Band-join candidates + bit_count verify must equal brute-force
    Hamming <= 3 over the signature table (pigeonhole: <=3 bit flips
    over four 16-bit chunks always leave one chunk equal)."""
    from itertools import combinations

    from hbase_taggregator_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = {
        r.doc_id: r.simhash for r in D.simhash_table(docs).collect()
    }
    expect = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert got == expect


def test_decontaminate_drops_only_heavy_overlap(spark):
    from hbase_taggregator_spark.operators import dedup as D

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # full overlap -> drop
            (2, "totally different words here entirely now"),  # clean
        ],
        "doc_id long, text string",
    )
    out = D.decontaminate(corpus, bench, max_ratio=0.2, n_shingle=5)
    assert [r.doc_id for r in out.collect()] == [2]


def test_deterministic_sample_quota_and_stability(spark):
    """k rows per group, reproducible, and rebuild-stable: a grown corpus
    keeps every prior pick whose hash still ranks in the top k."""
    import hashlib

    from hbase_taggregator_spark.operators.text import deterministic_sample

    rows = [(i, f"g{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {
        (r.source, r.doc_id)
        for r in deterministic_sample(df, ["source"], k=4).collect()
    }
    # exact expectation from the same hash algebra in Python
    expect = set()
    for g in ("g0", "g1", "g2"):
        members = [i for i, s in rows if s == g]
        ranked = sorted(
            members,
            key=lambda i: (hashlib.md5(f"sample#{i}".encode()).hexdigest(), i),
        )
        expect |= {(g, i) for i in ranked[:4]}
    assert out == expect
    # determinism across plans
    out2 = {
        (r.source, r.doc_id)
        for r in deterministic_sample(df, ["source"], k=4).collect()
    }
    assert out == out2


def test_global_shuffle_is_a_partition_of_the_corpus(spark):
    from hbase_taggregator_spark.operators.text import global_shuffle

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.count()
    out = global_shuffle(docs, n_shards=4).select("doc_id", "shard", "pos")
    rows = out.collect()
    assert len(rows) == n and len({r.doc_id for r in rows}) == n
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # same seed -> identical permutation
    again = global_shuffle(docs, n_shards=4).select("doc_id", "shard", "pos")
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in rows}


def test_parse_json_quarantine_flags_malformed_only(spark):
    from hbase_taggregator_spark.operators.profile import parse_json_quarantine

    df = spark.createDataFrame(
        [
            ("ok", '{"k": 5}'),
            ("truncated", '{"k": 5'),
            ("wrong_type", '{"k": "x"}'),   # parses; field null — NOT corrupt
            ("absent", None),               # missing data — NOT corrupt
            ("not_json", "hello"),
        ],
        "tag string, props string",
    )
    out = {
        r.tag: (r.quarantined, r.parsed["k"] if r.parsed else None)
        for r in parse_json_quarantine(df, "props", "k LONG").collect()
    }
    assert out == {
        "ok": (False, 5),
        "truncated": (True, None),
        "wrong_type": (False, None),
        "absent": (False, None),
        "not_json": (True, None),
    }
