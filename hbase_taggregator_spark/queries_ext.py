"""Wave-3 catalog entries: text analysis, dedup, embedding similarity —
the large-scale training-data-pipeline operators (BASELINE.json north star).

Oracle strategy: all Spark-side hashing/scoring is md5- and decimal-based
(see operators.dedup / operators.similarity), so every pipeline here is
re-stated as portable DuckDB SQL — including MinHash-LSH candidate
generation and SimHash signatures, which are usually considered
"non-SQL-expressible". Only approximate-recall ANN (bucket pruning) is a
rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.util import local_df
from hbase_taggregator_spark.operators import dedup as D
from hbase_taggregator_spark.operators import similarity as S
from hbase_taggregator_spark.operators import text as X
from hbase_taggregator_spark.queries import (
    _register,
    _register_plan_frame,
    load_table,
)

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

from hbase_taggregator_spark.oracle_fragments import (  # noqa: E402
    _ivf_recall_sql,
    _SQL_E,
    _SQL_TOKENS,
    _simhash_sql,
)


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.quality_features(docs).select(
        "doc_id", "q_n_chars", "q_n_tokens", "q_chars_per_token",
        "q_punct_ratio", "q_stopword_ratio",
    )


_stop_list = ", ".join(f"'{w}'" for w in X.STOPWORDS)
_register(
    "text_quality_features",
    _q_text_quality,
    f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM documents)
    SELECT doc_id,
           length(text) AS q_n_chars,
           len(toks) AS q_n_tokens,
           CAST(length(text) AS DOUBLE) / len(toks) AS q_chars_per_token,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
             / length(text) AS q_punct_ratio,
           CAST(len(list_filter(toks, x -> x IN ({_stop_list}))) AS DOUBLE)
             / len(toks) AS q_stopword_ratio
    FROM t
    """,
)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.language_id(docs).select("doc_id", "lang", "lang_pred")


def _lang_sql() -> str:
    score = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in X.LANG_MARKERS.items()
    }
    langs = list(X.LANG_MARKERS)
    whens = []
    for lang in langs:
        before = langs[: langs.index(lang)]
        after = langs[langs.index(lang) + 1:]
        conds = [f"s_{lang} > 0"]
        conds += [f"s_{lang} > s_{o}" for o in before]
        conds += [f"s_{lang} >= s_{o}" for o in after]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    scores_sel = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    return f"""
    WITH t AS (SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents),
    s AS (SELECT doc_id, lang, {scores_sel} FROM t)
    SELECT doc_id, lang,
           CASE {' '.join(whens)} ELSE 'und' END AS lang_pred
    FROM s
    """


_register("text_language_id", _q_lang_id, _lang_sql())


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.fingerprint(docs).select(
        "doc_id", "fp", X.token_count("text").alias("n_tokens")
    )


_register(
    "text_fingerprint_tokens",
    _q_fingerprint,
    f"""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           len({_SQL_TOKENS}) AS n_tokens
    FROM documents
    """,
)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs)


_register(
    "dedup_exact",
    _q_dedup_exact,
    """
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS doc_id, COUNT(*) AS n_duplicates
    FROM documents GROUP BY 1
    """,
)

from hbase_taggregator_spark.oracle_fragments import _SQL_SHINGLES3  # noqa: E402


def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, threshold=0.4)


_register(
    "dedup_ngram_jaccard_pairs",
    _q_jaccard,
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_SQL_SHINGLES3}) AS s FROM t),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.4
    """,
)


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(docs, k=16, bands=4)


def _minhash_sql(k: int = 16, bands: int = 4, max_bucket: int = 1000) -> str:
    rows = k // bands
    lo = "CAST(concat('0x', substr(md5(concat('mh#', s)), 1, 15)) AS BIGINT)"
    hi = "CAST(concat('0x', substr(md5(concat('mh#', s)), 16, 15)) AS BIGINT) // 4"
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> ({lo} + {i} * ({hi})) % {1 << 60}))"
        f" AS m{i}"
        for i in range(k)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws(',', "
        + ", ".join(f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES3} AS shingles FROM t),
    sig AS (SELECT doc_id, {mins} FROM sh WHERE len(shingles) > 0),
    bands AS ({band_rows}),
    okb AS (SELECT band_idx, band_key FROM bands
            GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND {max_bucket}),
    kept AS (SELECT bands.* FROM bands JOIN okb USING (band_idx, band_key))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
    FROM kept a JOIN kept b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


_register("dedup_minhash_lsh_candidates", _q_minhash, _minhash_sql())


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_table(docs).select("doc_id", "simhash", "chunk0", "chunk1", "chunk2", "chunk3")



_register("dedup_simhash_signatures", _q_simhash, _simhash_sql())


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------



def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.cosine_topk(emb, queries, k=5)


_register(
    "similarity_cosine_topk",
    _q_cosine_topk,
    f"""
    WITH {_SQL_E},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, d.vec_id,
             dot / (nq.nrm * nc.nrm) AS cosine
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id)
    SELECT query_id, vec_id, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored) WHERE rk <= 5
    """,
)


def _q_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.neardup_pairs(emb, threshold=0.42)


_register(
    "similarity_neardup_pairs",
    _q_neardup,
    f"""
    WITH {_SQL_E},
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM(CAST(a.v * b.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
      FROM dots d JOIN norms na ON na.vec_id = d.id_a
                  JOIN norms nb ON nb.vec_id = d.id_b)
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.42
    """,
)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (single-probe bucket-pruned top-k). Recall < 1 by
    design, but the APPROXIMATION ITSELF is deterministic relational
    algebra — md5-derived hyperplanes, exact-decimal bucket dots,
    in-bucket exact cosines, (cosine DESC, vec_id) rank — so it is fully
    oracle-restatable (promoted from rows-only in r8; the companion
    recall gate had restated the identical bucket/rank CTEs since r4)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ann_lsh_topk(emb, queries, k=5, n_planes=8)


def _ann_lsh_topk_sql(n_planes: int = 8, dim: int = 64, k: int = 5) -> str:
    plane_rows = ", ".join(
        f"({p}, {i + 1}, {w!r})"
        for p in range(n_planes)
        for i, w in enumerate(S._hyperplane(p, dim))
    )
    return f"""
    WITH {_SQL_E},
    planes(p, i, w) AS (VALUES {plane_rows}),
    pd AS (
      SELECT e.vec_id, pl.p,
             CAST(SUM(CAST(e.v * pl.w AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e JOIN planes pl ON pl.i = e.i
      GROUP BY 1, 2),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)
               AS BIGINT) AS bucket
      FROM pd GROUP BY 1),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id),
    annscored AS (
      SELECT s.query_id, s.vec_id, s.cosine
      FROM scored s JOIN buckets bq ON bq.vec_id = s.query_id
                    JOIN buckets bc ON bc.vec_id = s.vec_id
                                   AND bc.bucket = bq.bucket)
    SELECT query_id, vec_id, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM annscored) WHERE rk <= {k}
    """


_register("similarity_ann_lsh_topk", _q_ann_lsh, _ann_lsh_topk_sql())


# ---------------------------------------------------------------------------
# streaming + multimodal
# ---------------------------------------------------------------------------

from hbase_taggregator_spark.operators.multimodal import (  # noqa: E402
    extract_binary_features,
    with_binary_payload,
)
from hbase_taggregator_spark.queries import T0, T_WEEK, US, _bucket_sql  # noqa: E402
from hbase_taggregator_spark.streaming.timeseries_stream import (  # noqa: E402
    bucketed_stream_agg,
    replay_parquet_stream,
    run_to_memory,
    run_to_parquet,
    stream_aggregate,
)


def _q_streaming_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's bucketed aggregation on Structured Streaming: replay
    the events parquet as a stream, watermarked tumbling windows, run to
    completion. Must equal the batch result — it shares the batch oracle."""
    stream = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    stream = stream.filter(F.unix_micros("ts") < F.lit(T_WEEK * US))
    agg = bucketed_stream_agg(
        stream,
        T0,
        3600,
        {"count": "count_value", "max": "max_value"},
        watermark="1 hour",
    )
    result = run_to_memory(spark, agg, "stream_ts_3600")
    return result.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "count_value",
        "max_value",
    )


_register(
    "streaming_ts_count_max_3600",
    _q_streaming_counts,
    f"""
    SELECT {_bucket_sql(T0, 3600)} AS bucket_ms,
           COUNT(value) AS count_value, MAX(value) AS max_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the Arrow/mapInPandas
    plumbing (UTF-8 bytes stand in for media blobs; the oracle recomputes
    size and md5 from the source text — any batch-shape bug breaks it)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_binary_features(with_binary_payload(docs))
    return feats.select("doc_id", "n_bytes", "payload_md5")


_register(
    "multimodal_binary_features",
    _q_multimodal,
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)


# ---------------------------------------------------------------------------
# wave 5: gap-fill, sliding/session windows, pivot, scalar-function catalog
# ---------------------------------------------------------------------------

from hbase_taggregator_spark.operators.timeseries import (  # noqa: E402
    TimeseriesAggregator,
    fill_gaps,
)
from hbase_taggregator_spark.operators.windows import (  # noqa: E402
    session_agg,
    sliding_bucket_agg,
)

_T2D = T0 + 2 * 86400


def _q_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-fill extension (default-off per reference semantics — empty
    buckets absent; SURVEY.md §2.3.3): every 900 s bucket appears, count 0
    when empty."""
    from hbase_taggregator_spark.queries import load_table as _lt

    q = (
        TimeseriesAggregator(spark)
        .table(_lt(spark, sf_dir, "events"))
        .range(T0, _T2D)
        .interval(900)
    )
    filled = fill_gaps(
        q.count("count_value"), T0 * US, _T2D * US, 900 * US,
        fill={"count_value": 0},
    )
    return filled.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"), "count_value"
    )


_register(
    "ts_count_900_gapfilled",
    _q_gapfilled,
    f"""
    WITH buckets AS (
      SELECT unnest(generate_series({T0 * US}, {_T2D * US - 1}, {900 * US})) AS bus),
    agg AS (
      SELECT {_bucket_sql(T0, 900)} * 1000 AS bus, COUNT(value) AS c
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {_T2D * US}
      GROUP BY 1)
    SELECT bus // 1000 AS bucket_ms, COALESCE(c, 0) AS count_value
    FROM buckets LEFT JOIN agg USING (bus) ORDER BY 1
    """,
)


def _q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h size, 15 min slide): overlapping buckets the
    reference cannot express — each event lands in 4 windows."""
    from hbase_taggregator_spark.queries import load_table as _lt

    ev = _lt(spark, sf_dir, "events", time_range=(T0 * US, _T2D * US))
    out = sliding_bucket_agg(
        ev, "ts", 3600, 900,
        [F.count("value").alias("count_value"), F.max("value").alias("max_value")],
    )
    return out.select(
        F.expr("window_start_us div 1000").alias("window_start_ms"),
        "count_value",
        "max_value",
    )


_register(
    "sliding_window_1h_15m",
    _q_sliding,
    f"""
    WITH s AS (
      SELECT unnest(generate_series({T0 * US - 3600 * US + 900 * US},
                                    {_T2D * US - 900 * US}, {900 * US})) AS ws)
    SELECT ws // 1000 AS window_start_ms,
           COUNT(value) AS count_value, MAX(value) AS max_value
    FROM events JOIN s
      ON ws <= epoch_us(ts) AND epoch_us(ts) < ws + {3600 * US}
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {_T2D * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (6 h inactivity gap) — `session_window`
    merge semantics (new session when gap ≥ threshold; end = last + gap)."""
    from hbase_taggregator_spark.queries import load_table as _lt

    ev = _lt(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    out = session_agg(
        ev, "ts", 21600, ["user_id"],
        [F.count("value").alias("n_events"), F.max("value").alias("max_value")],
    )
    return out.select(
        "user_id", "session_start_us", "session_end_us", "n_events", "max_value"
    )


_register(
    "session_windows_6h_per_user",
    _q_sessions,
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t, value FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}),
    m AS (
      SELECT *, CASE WHEN t - LAG(t) OVER w >= {21600 * US}
                       OR LAG(t) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
    g AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id, MIN(t) AS session_start_us,
           MAX(t) + {21600 * US} AS session_end_us,
           COUNT(*) AS n_events, MAX(value) AS max_value
    FROM g GROUP BY user_id, sid
    """,
)

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily event-type count matrix (explicit value list so the
    plan needs no extra distinct pass)."""
    from hbase_taggregator_spark.queries import load_table as _lt

    ev = _lt(spark, sf_dir, "events", time_range=(T0 * US, T_MONTH * US))
    day = F.expr(f"(unix_micros(ts) - {T0 * US}) div {86400 * US}")
    out = (
        ev.withColumn("day_idx", day)
        .groupBy("day_idx")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    for t in _EVENT_TYPES:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
    return out


from hbase_taggregator_spark.queries import T_MONTH  # noqa: E402

_register(
    "pivot_event_type_daily",
    _q_pivot,
    f"""
    SELECT (epoch_us(ts) - {T0 * US}) // {86400 * US} AS day_idx,
           {", ".join(f"COUNT(*) FILTER (event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_MONTH * US}
    GROUP BY 1
    """,
)


def _q_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function catalog spot check: string + math built-ins with
    identical cross-engine semantics, over a join."""
    from hbase_taggregator_spark.queries import load_table as _lt

    cust = _lt(spark, sf_dir, "customer")
    nation = _lt(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.upper("n_name").alias("nation_uc"),
            F.length("n_name").alias("name_len"),
            F.concat(F.lower(F.substring("n_name", 1, 3)), F.lit("-"),
                     F.col("n_nationkey").cast("string")).alias("tag"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            # floor/ceil return LONG in Spark but DOUBLE in DuckDB — cast
            F.floor(F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double"))
            .cast("double").alias("floor_bal"),
            F.ceil(
                F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double")
                / F.count("c_acctbal")
            ).cast("double").alias("ceil_avg_bal"),
            F.max(F.abs(F.col("c_acctbal"))).alias("max_abs_bal"),
        )
    )



_register(
    "scalar_functions_showcase",
    _q_scalar_fns,
    """
    SELECT upper(n_name) AS nation_uc,
           length(n_name) AS name_len,
           concat(lower(substr(n_name, 1, 3)), '-', CAST(n_nationkey AS VARCHAR)) AS tag,
           COUNT(*) AS n_cust,
           FLOOR(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)) AS floor_bal,
           CEIL(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(c_acctbal)) AS ceil_avg_bal,
           MAX(ABS(c_acctbal)) AS max_abs_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2, 3
    """,
)


def _q_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function catalog over TIMESTAMP_NTZ (year/month/day extraction
    is TZ-free on NTZ in both engines)."""
    from hbase_taggregator_spark.queries import load_table as _lt

    orders = _lt(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.quarter("o_orderdate").alias("o_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.month("o_orderdate")).alias("min_month"),
            F.max(F.dayofmonth("o_orderdate")).alias("max_day"),
        )
    )


_register(
    "date_functions_orders",
    _q_date_fns,
    """
    SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
           EXTRACT(QUARTER FROM o_orderdate) AS o_quarter,
           COUNT(*) AS n_orders,
           MIN(EXTRACT(MONTH FROM o_orderdate)) AS min_month,
           MAX(EXTRACT(DAY FROM o_orderdate)) AS max_day
    FROM orders GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# wave 6: more TPC-H breadth + decoder registry (ColumnInterpreter analog)
# ---------------------------------------------------------------------------

from hbase_taggregator_spark.functions.decoders import (  # noqa: E402
    decode_value,
    encode_value,
)
from hbase_taggregator_spark.queries import DEC, _davg, _dsum, _sql_dsum  # noqa: E402


def _q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q7-style: shipping volume between supplier and customer nations per
    year (two broadcast dims + year extraction on NTZ)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"),
             F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items") >= 5)
    )


_register(
    "q7_nation_volume",
    _q7_volume,
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM l_shipdate) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS volume,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name != n2.n_name
    GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5
    """,
)


def _q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q14-style: conditional aggregation — promo revenue share in 1997."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            F.expr("l_shipdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'")
        )
        .agg(
            _dsum(promo, "promo_revenue"),
            _dsum(rev, "total_revenue"),
        )
    )


_register(
    "q14_promo_revenue",
    _q14_promo,
    """
    SELECT CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
)


def _q_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (decorrelated the Spark way: window mean
    per group + filter) — customers above their nation's average balance."""
    cust = load_table(spark, sf_dir, "customer")
    from pyspark.sql import Window as W

    w = W.partitionBy("c_nationkey")
    # exact group mean via decimal sum / count (order-free)
    nation_avg = (
        F.sum(F.col("c_acctbal").cast("decimal(28,6)")).over(w).cast("double")
        / F.count("c_acctbal").over(w)
    )
    return (
        cust.withColumn("nation_avg", nation_avg)
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg")
    )


_register(
    "correlated_above_avg_balance",
    _q_above_avg,
    """
    WITH a AS (
      SELECT c_nationkey AS k,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(c_acctbal) AS nation_avg
      FROM customer GROUP BY 1)
    SELECT c_custkey, c_nationkey, c_acctbal, nation_avg
    FROM customer JOIN a ON c_nationkey = a.k
    WHERE c_acctbal > nation_avg
    """,
)


def _q_decoder_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColumnInterpreter analog: values stored as 8-byte big-endian longs
    (Bytes.toLong layout), decoded by the registry inside codegen, then
    bucketed — the reference's full decode→aggregate path on binary cells.
    The oracle recomputes from the original numeric column, so any
    encode/decode asymmetry (incl. the sign bit) breaks the match."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    # signed longs from pure integer math (double→long casts truncate in
    # Spark but round in DuckDB); negated for odd ids to exercise the sign
    cents = F.when(
        F.col("event_id") % 2 == 1, -F.col("event_id") * 7919
    ).otherwise(F.col("event_id") * 7919).cast("long")
    shaped = events.select(
        "ts", encode_value(cents, "long_be").alias("cell_bytes")
    )
    decoded = shaped.select("ts", decode_value("cell_bytes", "long_be").alias("value"))
    q = (
        TimeseriesAggregator(spark)
        .table(decoded)
        .range(T0, T_WEEK)
        .interval(86400)
    )
    df = q.agg(min="min_cents", max="max_cents", sum="sum_cents")
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "min_cents", "max_cents", "sum_cents",
    )


_register(
    "decoder_registry_long_be",
    _q_decoder_registry,
    f"""
    WITH shaped AS (
      SELECT ts, CAST(CASE WHEN event_id % 2 = 1
                      THEN -event_id * 7919
                      ELSE event_id * 7919 END AS BIGINT) AS value
      FROM events)
    SELECT {_bucket_sql(T0, 86400)} AS bucket_ms,
           MIN(value) AS min_cents, MAX(value) AS max_cents,
           CAST(SUM(value) AS BIGINT) AS sum_cents
    FROM shaped
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _q_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState): running
    per-user extrema accumulated across real microbatches (input re-split
    into 4 files, maxFilesPerTrigger=1). The final state per key must equal
    the batch aggregate — which is the oracle. running_sum is excluded from
    the compare (per-batch float accumulation is order-dependent)."""
    import tempfile

    from hbase_taggregator_spark.streaming.stateful import running_extrema_stream

    events = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        events.repartition(4).write.parquet(src)
        stream = replay_parquet_stream(spark, src, max_files_per_trigger=1)
        run_to_memory(spark, running_extrema_stream(stream), "q_stateful_extrema",
                      output_mode="update")
        final = spark.sql(
            """SELECT user_id, running_max, running_min, running_count FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY running_count DESC) rk
                 FROM q_stateful_extrema) WHERE rk = 1"""
        )
        # materialize before the temp dir vanishes
        out = local_df(spark, final.collect(), final.schema)
    return out


_register(
    "streaming_stateful_running_extrema",
    _q_stateful_stream,
    """
    SELECT user_id, MAX(value) AS running_max, MIN(value) AS running_min,
           COUNT(value) AS running_count
    FROM events GROUP BY user_id
    """,
)


# ---------------------------------------------------------------------------
# wave 8: rowkey-range scan, resample+interpolate, BPE-ish tokens, pipeline
# ---------------------------------------------------------------------------

from hbase_taggregator_spark.sources.rowkey import encode_rowkey  # noqa: E402


def _q_rowkey_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's row-range predicate (start_row ≤ key < stop_row,
    TimeseriesAggregationClient.java:576-581) on binary rowkeys: BinaryType
    comparison is bytewise-lexicographic in both engines, so the oracle
    filters the same [start, stop) byte range rebuilt from the timestamp.
    The rowkey range maps 1:1 to a raw time range (whole-second bounds), so
    the scan is pruned before the keys are even synthesized."""
    events = load_table(
        spark, sf_dir, "events",
        time_range=((T0 + 3 * 86400) * US, (T0 + 5 * 86400) * US),
    )
    shaped = events.select(
        encode_rowkey(b"evntkey", F.expr("unix_micros(ts) div 1000000")).alias("rowkey"),
        "value",
    )
    start_key = b"evntkey" + (T0 + 3 * 86400).to_bytes(4, "big")
    stop_key = b"evntkey" + (T0 + 5 * 86400).to_bytes(4, "big")
    scanned = shaped.filter(
        (F.col("rowkey") >= F.lit(start_key)) & (F.col("rowkey") < F.lit(stop_key))
    )
    return scanned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
    )


_register(
    "rowkey_range_scan",
    _q_rowkey_range,
    f"""
    SELECT COUNT(*) AS n_rows, MAX(value) AS max_value, MIN(value) AS min_value
    FROM events
    WHERE epoch_us(ts) // 1000000 >= {T0 + 3 * 86400}
      AND epoch_us(ts) // 1000000 < {T0 + 5 * 86400}
    """,
)


def _q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample to a uniform grid with linear interpolation of empty
    buckets: bucket avg → gap-fill → forward/backward neighbor via
    last/first over frames → linear blend. All window arithmetic; the
    oracle restates it with the same exact-rational algebra."""
    from pyspark.sql import Window as W

    ev = load_table(
        spark, sf_dir, "events", time_range=(T0 * US, (T0 + 2 * 86400) * US)
    ).filter(F.col("event_type") == "signup")
    q = (
        TimeseriesAggregator(spark)
        .table(ev)
        .range(T0, T0 + 2 * 86400)
        .interval(7200)
    )
    # decimal-exact bucket average so interpolation inputs match the oracle
    agg = q.aggregate(
        (F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
         / F.count("value")).alias("avg_value")
    )
    filled = fill_gaps(agg, T0 * US, (T0 + 2 * 86400) * US, 7200 * US)
    wb = W.orderBy("bucket_start_us").rowsBetween(W.unboundedPreceding, 0)
    wf = W.orderBy("bucket_start_us").rowsBetween(0, W.unboundedFollowing)
    prev_v = F.last("avg_value", ignorenulls=True).over(wb)
    next_v = F.first("avg_value", ignorenulls=True).over(wf)
    prev_t = F.last(F.when(F.col("avg_value").isNotNull(), F.col("bucket_start_us")), True).over(wb)
    next_t = F.first(F.when(F.col("avg_value").isNotNull(), F.col("bucket_start_us")), True).over(wf)
    frac = (F.col("bucket_start_us") - prev_t).cast("double") / (next_t - prev_t).cast("double")
    interp = F.when(F.col("avg_value").isNotNull(), F.col("avg_value")).otherwise(
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return filled.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        interp.alias("value_interp"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


_register(
    "ts_resample_interpolate_7200",
    _q_resample_interpolate,
    f"""
    WITH buckets AS (
      SELECT unnest(generate_series({T0 * US}, {(T0 + 2 * 86400) * US - 1}, {7200 * US})) AS bus),
    agg AS (
      SELECT {T0 * US} + ((epoch_us(ts) - {T0 * US}) // {7200 * US}) * {7200 * US} AS bus,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(value) AS avg_value
      FROM events
      WHERE event_type = 'signup'
        AND epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {(T0 + 2 * 86400) * US}
      GROUP BY 1),
    g AS (SELECT bus, avg_value FROM buckets LEFT JOIN agg USING (bus)),
    n AS (
      SELECT bus, avg_value,
             LAST_VALUE(avg_value IGNORE NULLS) OVER
               (ORDER BY bus ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             FIRST_VALUE(avg_value IGNORE NULLS) OVER
               (ORDER BY bus ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             LAST_VALUE(CASE WHEN avg_value IS NOT NULL THEN bus END IGNORE NULLS) OVER
               (ORDER BY bus ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             FIRST_VALUE(CASE WHEN avg_value IS NOT NULL THEN bus END IGNORE NULLS) OVER
               (ORDER BY bus ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM g)
    SELECT bus // 1000 AS bucket_ms,
           CASE WHEN avg_value IS NOT NULL THEN avg_value
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) * (CAST(bus - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
           END AS value_interp,
           avg_value IS NULL AS was_gap
    FROM n
    """,
)

#: GPT-2-ish pretokenizer, restricted to a dialect-neutral subset
_BPE_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pretokenization count (regexp_extract_all with a GPT-2-ish
    pattern over lowercased text) vs whitespace tokens."""
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), 0))
    from hbase_taggregator_spark.operators.text import token_count

    return docs.select(
        "doc_id",
        bpe.alias("n_bpe_tokens"),
        token_count("text").alias("n_ws_tokens"),
    )


_register(
    "text_bpe_token_count",
    _q_bpe_tokens,
    f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS n_bpe_tokens,
           len(string_split_regex(trim(lower(text)), '\\s+')) AS n_ws_tokens
    FROM documents
    """,
)


def _q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus pipeline composition: quality filter →
    language ID → exact dedup → per-language corpus stats. One declarative
    plan — Catalyst fuses the projections; the only shuffles are the dedup
    groupBy and the final rollup."""
    docs = load_table(spark, sf_dir, "documents")
    scored = X.quality_features(X.language_id(X.fingerprint(docs)))
    kept = scored.filter(
        (F.col("q_n_tokens") >= 10) & (F.col("q_stopword_ratio") < 0.5)
    )
    deduped = kept.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.first("lang_pred").alias("lang_pred"),
        F.first("q_n_tokens").alias("n_tokens"),
    )
    return deduped.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


_register(
    "corpus_pipeline_stats",
    _q_corpus_pipeline,
    _lang_sql().replace(
        "SELECT doc_id, lang,", "SELECT doc_id,"
    )
    and f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM documents),
    s AS (SELECT doc_id, text, toks,
                 {", ".join(f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)}))) AS s_{lang}" for lang, ws in X.LANG_MARKERS.items())}
          FROM t),
    lp AS (SELECT doc_id, text, toks,
                  CASE {' '.join(f"WHEN s_{lang} > 0 {' '.join(f'AND s_{lang} > s_{o}' for o in list(X.LANG_MARKERS)[:i])} {' '.join(f'AND s_{lang} >= s_{o}' for o in list(X.LANG_MARKERS)[i+1:])} THEN '{lang}'" for i, lang in enumerate(X.LANG_MARKERS))} ELSE 'und' END AS lang_pred
           FROM s),
    q AS (SELECT doc_id, lang_pred,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
                 len(toks) AS n_tokens,
                 CAST(len(list_filter(toks, x -> x IN ({_stop_list}))) AS DOUBLE) / len(toks) AS stop_ratio
          FROM lp),
    kept AS (SELECT * FROM q WHERE n_tokens >= 10 AND stop_ratio < 0.5),
    dd AS (SELECT fp, MIN(doc_id) AS doc_id,
                  MIN(lang_pred) AS lang_pred, MIN(n_tokens) AS n_tokens
           FROM kept GROUP BY fp)
    SELECT lang_pred, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM dd GROUP BY lang_pred
    """,
)


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per series — Spark `percentile` and
    DuckDB `quantile_cont` share the p·(n−1) linear-interpolation definition,
    so the doubles match bit-for-bit on sorted identical inputs."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


_register(
    "percentiles_per_event_type",
    _q_percentiles,
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
)


def _q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic arg-max per group (ties broken by max id): two-level
    aggregate instead of `max_by`/`arg_max`, whose tie-breaking is
    engine-arbitrary."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.groupBy("event_type").agg(F.max("value").alias("max_value"))
    return (
        ev.join(F.broadcast(mx), "event_type")
        .filter(F.col("value") == F.col("max_value"))
        .groupBy("event_type", "max_value")
        .agg(F.max("event_id").alias("argmax_event_id"))
    )


_register(
    "argmax_event_per_type",
    _q_argmax,
    """
    WITH mx AS (SELECT event_type, MAX(value) AS max_value FROM events GROUP BY 1)
    SELECT e.event_type, max_value, MAX(event_id) AS argmax_event_id
    FROM events e JOIN mx ON e.event_type = mx.event_type AND e.value = mx.max_value
    GROUP BY 1, 2
    """,
)


def _q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates from exact decimal moments: Welford-style
    native stddev/corr are accumulation-order-dependent in the last bits, so
    variance/stddev/correlation are derived from order-free decimal sums
    (Σx, Σx², Σxy) with the final arithmetic in double — deterministic in
    both engines.

    The scale-12 sums go decimal→string→double on BOTH sides: DuckDB's
    direct int128-decimal→double cast divides in floating point and can be
    off by one ulp (observed at sf0.01), while string→double parsing is
    correctly rounded everywhere."""
    ev = load_table(spark, sf_dir, "events")
    dx = F.col("value").cast("decimal(28,6)")
    dy = F.col("user_id").cast("decimal(28,6)")

    def _d12(c):  # exact decimal sum → correctly-rounded double
        return F.sum(c.cast("decimal(38,12)")).cast("string").cast("double")

    n = F.count("value")
    sx = F.sum(dx).cast("double")
    sxx = _d12(dx * dx)
    sy = F.sum(dy).cast("double")
    syy = _d12(dy * dy)
    sxy = _d12(dx * dy)
    var = (sxx - sx * sx / n) / (n - 1)
    corr = (sxy - sx * sy / n) / (
        F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    )
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        (sx / n).alias("mean_value"),
        var.alias("var_samp"),
        F.sqrt(var).alias("stddev_samp"),
        corr.alias("corr_value_user"),
    )


_register(
    "stats_moments_per_type",
    _q_moments,
    """
    WITH m AS (
      SELECT event_type, COUNT(value) AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(28,6)) * CAST(value AS DECIMAL(28,6)) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(user_id AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(CAST(user_id AS DECIMAL(28,6)) * CAST(user_id AS DECIMAL(28,6)) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(28,6)) * CAST(user_id AS DECIMAL(28,6)) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           sx / n AS mean_value,
           (sxx - sx * sx / n) / (n - 1) AS var_samp,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_samp,
           (sxy - sx * sy / n) /
             (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_value_user
    FROM m
    """,
)


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column support: extract the integer `k` from the
    JSON `props` string and aggregate it per event_type (JVM-side
    get_json_object — no schema declaration needed)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


_register(
    "json_props_extract",
    _q_json_props,
    """
    SELECT event_type,
           COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# wave 9 (round 2): qualifier-offset gate, decimal decoder, dedup funnel,
# ANN recall, TPC-H q2/q9 shapes
# ---------------------------------------------------------------------------


def _q_qualifier_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.1 row 6 under the driver oracle: the reference's full
    key-embedded-timestamp layout — one row per coarse period (hour) with
    the timestamp in the rowkey mask span, sub-period samples as int32
    seconds-offset qualifiers (AggregationBuilder.java:84-100; the test
    fixture's row-per-hour × qualifier layout,
    TestTimeseriesAggregateProtocol.java:110-128). Synthesized from events
    by splitting each second-truncated timestamp into (hour rowkey,
    offset-in-hour qualifier); decode must reassemble exactly or the
    oracle's bucket hash breaks."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    sec = F.expr("unix_micros(ts) div 1000000")
    shaped = events.select(
        encode_rowkey(b"evntkey", sec - (sec % 3600)).alias("rowkey"),
        (sec % 3600).cast("int").alias("qualifier_offset_s"),
        "value",
    )
    tsa = TimeseriesAggregator(spark)
    q = (
        tsa.table_from_rowkey(
            shaped, "00000001111", qualifier_col="qualifier_offset_s"
        )
        .range(T0, T_WEEK)
        .interval(900)
    )
    df = q.agg(count="count_value", max="max_value")
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "count_value",
        "max_value",
    )


_register(
    "ts_qualifier_offset_900",
    _q_qualifier_offset,
    f"""
    SELECT ({T0 * US} + (((epoch_us(ts) // 1000000) * 1000000 - {T0 * US}) // {900 * US}) * {900 * US}) // 1000
             AS bucket_ms,
           COUNT(value) AS count_value, MAX(value) AS max_value
    FROM events
    WHERE (epoch_us(ts) // 1000000) * 1000000 >= {T0 * US}
      AND (epoch_us(ts) // 1000000) * 1000000 < {T_WEEK * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _q_decoder_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigDecimalColumnInterpreter analog: order totals stored as scaled
    big-endian longs (unscaled cents), decoded by the registry's
    ``decimal_be_2`` inside codegen, aggregated per priority. Odd order
    keys are negated to exercise the sign bit through the byte round-trip."""
    orders = load_table(spark, sf_dir, "orders")
    signed = F.when(
        F.col("o_orderkey") % 2 == 1, -F.col("o_totalprice")
    ).otherwise(F.col("o_totalprice")).cast("decimal(12,2)")
    shaped = orders.select(
        "o_orderpriority", encode_value(signed, "decimal_be_2").alias("cell_bytes")
    )
    decoded = shaped.select(
        "o_orderpriority", decode_value("cell_bytes", "decimal_be_2").alias("v")
    )
    return decoded.groupBy("o_orderpriority").agg(
        F.min("v").alias("min_price"),
        F.max("v").alias("max_price"),
        F.sum("v").cast("decimal(18,2)").alias("sum_price"),
    )


_register(
    "decoder_registry_decimal_be",
    _q_decoder_decimal,
    """
    WITH shaped AS (
      SELECT o_orderpriority,
             CAST(CASE WHEN o_orderkey % 2 = 1 THEN -o_totalprice
                       ELSE o_totalprice END AS DECIMAL(12,2)) AS v
      FROM orders)
    SELECT o_orderpriority, MIN(v) AS min_price, MAX(v) AS max_price,
           CAST(SUM(v) AS DECIMAL(18,2)) AS sum_price
    FROM shaped GROUP BY 1
    """,
)


def _q_decoder_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoubleColumnInterpreter analog — the one HBase interpreter round 1
    left unimplemented. Bytes.toDouble (8-byte IEEE-754 big-endian) is
    reinterpreted with pure expressions (functions/decoders.py:
    power-of-two-exact scaling — no UDF), so the full decode→bucket→aggregate
    path stays in codegen. Odd event ids negate the value to push the sign
    bit through the byte round-trip; the oracle recomputes from the original
    doubles, so one wrong mantissa bit breaks min/max equality."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    signed = F.when(
        F.col("event_id") % 2 == 1, -F.col("value")
    ).otherwise(F.col("value"))
    shaped = events.select(
        "ts", encode_value(signed, "double_bits_be").alias("cell_bytes")
    )
    decoded = shaped.select(
        "ts", decode_value("cell_bytes", "double_bits_be").alias("value")
    )
    q = (
        TimeseriesAggregator(spark)
        .table(decoded)
        .range(T0, T_WEEK)
        .interval(86400)
    )
    df = q.aggregate(
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        _dsum("value", "sum_v"),
    )
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "min_v", "max_v", "sum_v",
    )


_register(
    "decoder_registry_double_be",
    _q_decoder_double,
    f"""
    WITH shaped AS (
      SELECT ts, CASE WHEN event_id % 2 = 1 THEN -value ELSE value END AS value
      FROM events)
    SELECT {_bucket_sql(T0, 86400)} AS bucket_ms,
           MIN(value) AS min_v, MAX(value) AS max_v,
           {{dsum}} AS sum_v
    FROM shaped
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1 ORDER BY 1
    """.replace("{dsum}", "CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)"),
)


def _q_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed dedup funnel as ONE plan: MinHash-LSH candidates →
    exact-Jaccard verify on candidates only → keep-lowest-id survivors
    (operators.dedup.dedup_funnel — the 100 TB-safe composition; the
    standalone O(n²) verify never runs on the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_funnel(docs, threshold=0.4, k=16, bands=4)


def _funnel_sql(
    k: int = 16, bands: int = 4, threshold: float = 0.4, max_bucket: int = 1000
) -> str:
    rows = k // bands
    lo = "CAST(concat('0x', substr(md5(concat('mh#', s)), 1, 15)) AS BIGINT)"
    hi = "CAST(concat('0x', substr(md5(concat('mh#', s)), 16, 15)) AS BIGINT) // 4"
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> ({lo} + {i} * ({hi})) % {1 << 60}))"
        f" AS m{i}"
        for i in range(k)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws(',', "
        + ", ".join(f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES3} AS shingles FROM t),
    sig AS (SELECT doc_id, {mins} FROM sh WHERE len(shingles) > 0),
    bands AS ({band_rows}),
    okb AS (SELECT band_idx, band_key FROM bands
            GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND {max_bucket}),
    kept AS (SELECT bands.* FROM bands JOIN okb USING (band_idx, band_key)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id),
    shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shx GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c JOIN shx a ON a.doc_id = c.id_a
                  JOIN shx b ON b.doc_id = c.id_b AND b.s = a.s
      GROUP BY 1, 2),
    dups AS (
      SELECT DISTINCT id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= {threshold})
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM dups)
    """


_register("dedup_funnel_survivors", _q_dedup_funnel, _funnel_sql())


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a deterministic value: recall@5 of the LSH-bucketed
    top-k against brute-force cosine top-k, per query vector. Both sides
    (and the md5-derived hyperplanes) are restated in the oracle, turning
    the round-1 rows-only check into a hash-matched one."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    ann = S.ann_lsh_topk(emb, queries, k=5, n_planes=8).select("query_id", "vec_id")
    hits = (
        exact.join(ann, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = queries.select(F.col("vec_id").alias("query_id"))
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) / F.lit(5.0)).alias("recall_at_5"),
    )


def _ann_recall_sql(n_planes: int = 8, dim: int = 64, k: int = 5) -> str:
    plane_rows = ", ".join(
        f"({p}, {i + 1}, {w!r})"
        for p in range(n_planes)
        for i, w in enumerate(S._hyperplane(p, dim))
    )
    return f"""
    WITH {_SQL_E},
    planes(p, i, w) AS (VALUES {plane_rows}),
    pd AS (
      SELECT e.vec_id, pl.p,
             CAST(SUM(CAST(e.v * pl.w AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e JOIN planes pl ON pl.i = e.i
      GROUP BY 1, 2),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)
               AS BIGINT) AS bucket
      FROM pd GROUP BY 1),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored) WHERE rk <= {k}),
    annscored AS (
      SELECT s.query_id, s.vec_id, s.cosine
      FROM scored s JOIN buckets bq ON bq.vec_id = s.query_id
                    JOIN buckets bc ON bc.vec_id = s.vec_id
                                   AND bc.bucket = bq.bucket),
    ann AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM annscored) WHERE rk <= {k}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN ann USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(k)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """


_register("similarity_ann_recall_at_5", _q_ann_recall, _ann_recall_sql())


def _recall_vs_exact(emb, queries, approx, k: int = 5):
    """(query_id, n_hits, recall@k) of an approximate top-k result against
    brute-force cosine top-k on the same queries."""
    exact = S.cosine_topk(emb, queries, k=k).select("query_id", "vec_id")
    hits = (
        exact.join(approx.select("query_id", "vec_id"),
                   ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = queries.select(F.col("vec_id").alias("query_id"))
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) / F.lit(float(k))).alias(f"recall_at_{k}"),
    )


def _q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (coarse centroid quantization → inverted lists →
    n_probe nearest lists per query) with its recall@5 against brute force
    as the gated deterministic value. Centroids are the first 16 corpus
    vectors (deterministic sampling init), assignment/probing by exact
    decimal cosine — the oracle restates the whole structure in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    quant = S.coarse_quantizer(S.seed_centroids(emb, 16))
    index, _ = S.build_ivf_index(emb, quant)
    ivf = S.ivf_search(index, queries, quant, k=5, n_probe=4)
    return _recall_vs_exact(emb, queries, ivf, k=5)


_register("similarity_ivf_recall_at_5", _q_ivf_recall, _ivf_recall_sql())


def _q_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection with the LSH prefilter composed in:
    only same-bucket pairs are cosine-verified. The oracle restates the
    hyperplane bucketing + in-bucket scoring, so this approximate operator
    is still hash-exact deterministic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_neardup_pairs(emb, threshold=0.42, n_planes=8)


def _lsh_neardup_sql(
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.42,
    max_bucket: int = 1000,
) -> str:
    plane_rows = ", ".join(
        f"({p}, {i + 1}, {w!r})"
        for p in range(n_planes)
        for i, w in enumerate(S._hyperplane(p, dim))
    )
    return f"""
    WITH {_SQL_E},
    planes(p, i, w) AS (VALUES {plane_rows}),
    pd AS (
      SELECT e.vec_id, pl.p,
             CAST(SUM(CAST(e.v * pl.w AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e JOIN planes pl ON pl.i = e.i
      GROUP BY 1, 2),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)
               AS BIGINT) AS bucket
      FROM pd GROUP BY 1),
    okb AS (SELECT bucket FROM buckets
            GROUP BY 1 HAVING COUNT(*) BETWEEN 2 AND {max_bucket}),
    kept AS (SELECT buckets.* FROM buckets JOIN okb USING (bucket)),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM kept a JOIN kept b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    pdots AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(CAST(ea.v * eb.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM pairs p JOIN e ea ON ea.vec_id = p.id_a
                   JOIN e eb ON eb.vec_id = p.id_b AND eb.i = ea.i
      GROUP BY 1, 2)
    SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
    FROM pdots d JOIN norms na ON na.vec_id = d.id_a
                 JOIN norms nb ON nb.vec_id = d.id_b
    WHERE dot / (na.nrm * nb.nrm) >= {threshold}
    """


_register("similarity_lsh_neardup_pairs", _q_lsh_neardup, _lsh_neardup_sql())


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the corpus replayed as an unbounded stream,
    fingerprint groupBy in complete mode — final state must equal the batch
    dedup (it shares dedup_exact's oracle). At 100 TB-scale ingest the
    state is one row per distinct fingerprint; MIN/COUNT merges are
    order-insensitive, so the result is microbatch-schedule-independent."""
    stream = replay_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    agg = (
        X.fingerprint(stream)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_duplicates"),
        )
    )
    result = run_to_memory(spark, agg, "stream_dedup_exact")
    return result.select("fp", "doc_id", "n_duplicates")


_register(
    "streaming_dedup_exact",
    _q_streaming_dedup,
    """
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS doc_id, COUNT(*) AS n_duplicates
    FROM documents GROUP BY 1
    """,
)


def _q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape (no partsupp table in the fixture, so lineitem is the
    part↔supplier price list): for each size-15 part, the minimum offered
    price and the lowest-keyed supplier offering it — a correlated scalar
    subquery (min over the same fact), decorrelated into an aggregate +
    re-join; ties resolved deterministically by MIN(suppkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    supp = load_table(spark, sf_dir, "supplier")
    min_price = li.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )
    best = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(min_price, "l_partkey")
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .groupBy("p_partkey", "p_brand", "min_price")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
    )
    return best.join(
        F.broadcast(supp), F.col("best_suppkey") == F.col("s_suppkey")
    ).select("p_partkey", "p_brand", "min_price", "best_suppkey", "s_name")


_register(
    "q2_min_cost_supplier",
    _q2_min_cost,
    """
    WITH mp AS (
      SELECT l_partkey, MIN(l_extendedprice) AS min_price
      FROM lineitem GROUP BY 1),
    best AS (
      SELECT p_partkey, p_brand, min_price, MIN(l_suppkey) AS best_suppkey
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN mp ON mp.l_partkey = p_partkey
                       AND l_extendedprice = min_price
      WHERE p_size = 15
      GROUP BY 1, 2, 3)
    SELECT p_partkey, p_brand, min_price, best_suppkey, s_name
    FROM best JOIN supplier ON s_suppkey = best_suppkey
    """,
)


def _q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape: multi-fact join (lineitem ⋈ orders ⋈ part ⋈ supplier
    ⋈ nation) with EXPRESSION group keys (nation, order year) and a profit
    expression spanning two tables (p_retailprice stands in for the missing
    partsupp supplycost). Exercises join reordering + broadcast of all three
    dimension sides + decimal-exact signed sums."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum(profit, "sum_profit"), F.count(F.lit(1)).alias("n_items"))
    )


_register(
    "q9_profit_by_nation_year",
    _q9_profit,
    """
    SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - 0.1 * p_retailprice * l_quantity
                    AS DECIMAL(28,6))) AS DOUBLE) AS sum_profit,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN part ON l_partkey = p_partkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# wave 10 (round 2): repetition/PII/train-val text ops, funnel analytics,
# q18 shape, sink round-trip
# ---------------------------------------------------------------------------


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: top-bigram share + distinct-gram ratio per
    document (the standard repetition quality filter for pretraining
    corpora)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.repetition_features(docs, n=2)


_register(
    "text_repetition_features",
    _q_repetition,
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                                       i -> array_to_string(toks[i:i+1], ' '))) AS g
          FROM t),
    pg AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2),
    pd AS (SELECT doc_id,
                  CAST(SUM(c) AS BIGINT) AS n_grams,
                  CAST(MAX(c) AS BIGINT) AS top_gram_count,
                  COUNT(*) AS n_distinct_grams
           FROM pg GROUP BY 1)
    SELECT doc_id, n_grams, top_gram_count,
           CAST(top_gram_count AS DOUBLE) / n_grams AS top_gram_share,
           CAST(n_distinct_grams AS DOUBLE) / n_grams AS distinct_gram_ratio
    FROM pd
    """,
)


def _q_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-adjacent surface-pattern counts (emails, URLs, long digit runs)
    — portable regexes, identical in Java and RE2 engines."""
    docs = load_table(spark, sf_dir, "documents")
    return X.pattern_counts(docs).select(
        "doc_id", "n_emails", "n_urls", "n_digits_runs"
    )


_register(
    "text_pattern_counts",
    _q_patterns,
    f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{X.PATTERNS["n_emails"]}')) AS n_emails,
           len(regexp_extract_all(lower(text), '{X.PATTERNS["n_urls"]}')) AS n_urls,
           len(regexp_extract_all(lower(text), '{X.PATTERNS["n_digits_runs"]}')) AS n_digits_runs
    FROM documents
    """,
)


def _q_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val split: md5-bucket assignment that
    never migrates a document between splits across corpus rebuilds."""
    docs = load_table(spark, sf_dir, "documents")
    return X.train_val_split(docs, val_fraction=0.1, buckets=1000).select(
        "doc_id", "split_bucket", "split"
    )


_register(
    "corpus_train_val_split",
    _q_train_val,
    """
    WITH b AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1000 AS split_bucket
      FROM documents)
    SELECT doc_id, split_bucket,
           CASE WHEN split_bucket < 100 THEN 'val' ELSE 'train' END AS split
    FROM b
    """,
)


def _q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence/funnel analytics: per user, the share of clicks followed by
    a purchase within 1 hour. The click→purchase probe is a time-banded
    semi-join per user (shuffle on user_id only; the band bounds the per-key
    fan-out)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("ct"), "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("pt")
    )
    converted = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pt") > F.col("ct"))
        & (F.col("pt") <= F.col("ct") + 3600 * US),
        "left_semi",
    )
    n_clicks = clicks.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_clicks"))
    n_conv = converted.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_converted"))
    return (
        n_clicks.join(n_conv, "user_id", "left")
        .select(
            "user_id",
            "n_clicks",
            F.coalesce("n_converted", F.lit(0)).cast("long").alias("n_converted"),
            (F.coalesce("n_converted", F.lit(0)).cast("double") / F.col("n_clicks"))
            .alias("conversion_rate"),
        )
    )


_register(
    "funnel_click_to_purchase_1h",
    _q_funnel_conversion,
    f"""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS ct, event_id FROM events
      WHERE event_type = 'click'),
    p AS (
      SELECT user_id, epoch_us(ts) AS pt FROM events
      WHERE event_type = 'purchase'),
    conv AS (
      SELECT c.user_id, c.event_id FROM c
      WHERE EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                    AND p.pt > c.ct AND p.pt <= c.ct + {3600 * US})),
    nc AS (SELECT user_id, COUNT(*) AS n_clicks FROM c GROUP BY 1),
    nv AS (SELECT user_id, COUNT(*) AS n_converted FROM conv GROUP BY 1)
    SELECT nc.user_id, n_clicks,
           CAST(COALESCE(n_converted, 0) AS BIGINT) AS n_converted,
           CAST(COALESCE(n_converted, 0) AS DOUBLE) / n_clicks AS conversion_rate
    FROM nc LEFT JOIN nv ON nc.user_id = nv.user_id
    """,
)


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: orders whose total lineitem quantity exceeds a
    threshold — aggregate-then-having feeding a dimension join (the
    classic group-filter-join pipeline)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
    )


_register(
    "q18_large_orders",
    _q18_large_orders,
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) > 250)
    SELECT c_name, c_custkey, o_orderkey, o_totalprice, sum_qty
    FROM big JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
    """,
)


def _sink_roundtrip_frame(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The LIVE serving frame behind ``sink_partitioned_roundtrip``:
    write the partitioned layout under ``workdir``, return the
    pre-materialization read-back aggregate (what the plan audit
    records — VERDICT r14 #1)."""
    from hbase_taggregator_spark.sources.sinks import write_partitioned

    docs = load_table(spark, sf_dir, "documents")
    path = f"{workdir}/docs_by_lang"
    write_partitioned(docs, path, ["lang"], files_per_partition=2)
    back = spark.read.parquet(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink gate: write the corpus partitioned by language with small-file
    control (sources/sinks.py), read the directory layout back, aggregate.
    Any loss/duplication in the partitioned write breaks the count match;
    the oracle aggregates the source directly."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        agg = _sink_roundtrip_frame(spark, sf_dir, d)
        out = local_df(spark, agg.collect(), agg.schema)
    return out


_register(
    "sink_partitioned_roundtrip",
    _q_sink_roundtrip,
    """
    SELECT lang, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM documents GROUP BY 1
    """,
)
_register_plan_frame("sink_partitioned_roundtrip", _sink_roundtrip_frame)


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value histogram with fixed-width bins (integer floor math — the same
    portable bucket algebra as the time axis, applied to the value axis)."""
    ev = load_table(spark, sf_dir, "events")
    bin_idx = F.floor(F.col("value") / 25).cast("long")
    return (
        ev.groupBy(bin_idx.alias("bin_idx"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("value").alias("bin_min"),
             F.max("value").alias("bin_max"))
    )


_register(
    "histogram_value_25",
    _q_histogram,
    """
    SELECT CAST(FLOOR(value / 25) AS BIGINT) AS bin_idx, COUNT(*) AS n,
           MIN(value) AS bin_min, MAX(value) AS bin_max
    FROM events GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# wave 11: remaining TPC-H relational shapes, adapted to this schema
# (no partsupp / commitdate / comment columns in the fixture tables)
# ---------------------------------------------------------------------------


def _q4_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: per-priority counts of orders that had a late-shipped
    lineitem (EXISTS with a cross-table inequality). Spark plans the EXISTS
    as a left-semi hash join on l_orderkey with the inequality as a join
    residual — shuffle on the orderkey only, no fan-out."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'")
        & F.expr("o_orderdate < TIMESTAMP_NTZ'1997-04-01 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_register(
    "q4_order_priority",
    _q4_priority_count,
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY 1
    """,
)


def _q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 shape: customer order-count distribution — LEFT OUTER join
    (customers with zero orders must appear with c_count=0) feeding a second
    aggregation over the first's result. Two shuffles: custkey, then the
    tiny c_count domain."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_register(
    "q13_customer_distribution",
    _q13_cust_distribution,
    """
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY 1)
    SELECT c_count, COUNT(*) AS custdist FROM per_cust GROUP BY 1
    """,
)


def _q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape: distinct-supplier counts per part attribute triple,
    with an anti-join exclusion list (negative-balance suppliers stand in
    for the complaint filter). part is broadcast; the distinct rides the
    (brand, type, size) shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & ~F.col("p_type").startswith("PROMO")
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    ok = li.join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        ok.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_register(
    "q16_parts_supplier_counts",
    _q16_supplier_counts,
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)


def _q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: lineitems below 20% of their part's average quantity
    (correlated aggregate, decorrelated into a per-part aggregate rejoin).
    The boundary predicate is decimal algebra — ``qty * 5 * cnt < sum`` —
    so both engines evaluate it exactly (no double-division ulp at the
    threshold). Per-part stats are built only for the target brand's parts,
    then broadcast."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = load_table(spark, sf_dir, "lineitem")
    brand_li = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    stats = brand_li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty_dec"),
        F.count(F.lit(1)).alias("cnt"),
    ).select(F.col("l_partkey").alias("s_partkey"), "sum_qty_dec", "cnt")
    small = brand_li.join(
        F.broadcast(stats), F.col("l_partkey") == F.col("s_partkey")
    ).filter(
        F.col("l_quantity").cast(DEC) * 5 * F.col("cnt") < F.col("sum_qty_dec")
    )
    return small.agg(
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0)
        .alias("avg_yearly")
    )


_register(
    "q17_small_quantity_revenue",
    _q17_small_quantity,
    """
    WITH brand_li AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#23'),
    stats AS (
      SELECT l_partkey AS s_partkey,
             SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sum_qty_dec,
             COUNT(*) AS cnt
      FROM brand_li GROUP BY 1)
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM brand_li JOIN stats ON l_partkey = s_partkey
    WHERE CAST(l_quantity AS DECIMAL(28,6)) * 5 * cnt < sum_qty_dec
    """,
)


def _q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape: OR-of-ANDs predicate across both join sides. The
    common conjunct (the partkey equi-join) stays the join key; the
    disjunction is a residual filter — Catalyst does not turn it into a
    cartesian. Brand/size bands hit three disjoint part subsets."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_register(
    "q19_disjunctive_revenue",
    _q19_disjunctive,
    f"""
    SELECT {_sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)


def _q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 shape: customers above the average positive balance with no
    recent orders — scalar aggregate subquery + anti-join, grouped by a
    synthetic country code (every fixture customer has *some* order, so the
    idleness cutoff is date-scoped). The scalar threshold is broadcast as a
    1-row frame; the boundary compare is decimal ``bal * n > sum`` (exact on
    both engines)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ'2000-01-01 00:00:00'")
    )
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(DEC)).alias("sum_pos"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal").cast(DEC) * F.col("n_pos") > F.col("sum_pos"))
    )
    idle = rich.join(
        orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return idle.groupBy(
        (F.col("c_custkey") % 7).alias("cntrycode")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        _dsum("c_acctbal", "totacctbal"),
    )


_register(
    "q22_idle_customer_balance",
    _q22_idle_customers,
    f"""
    WITH t AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS sum_pos,
             COUNT(*) AS n_pos
      FROM customer WHERE c_acctbal > 0)
    SELECT c_custkey % 7 AS cntrycode, COUNT(*) AS numcust,
           {_sql_dsum('c_acctbal')} AS totacctbal
    FROM customer, t
    WHERE CAST(c_acctbal AS DECIMAL(28,6)) * n_pos > sum_pos
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# wave 12: training-pipeline structure ops — chunking, packing, quantization
# ---------------------------------------------------------------------------


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 32-token windows, 8-token overlap (stride
    24); every chunk carries an md5 fingerprint so the oracle verifies the
    exact token content of every window, not just counts."""
    docs = load_table(spark, sf_dir, "documents")
    return X.doc_chunks(docs, chunk_tokens=32, overlap=8)


_register(
    "corpus_doc_chunks",
    _q_doc_chunks,
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    c AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) <= 0 THEN 0
                      ELSE 1 + greatest(0,
                           CAST((len(toks) - 32 + 24 - 1) // 24 AS INT)) END
                   AS n_chunks
          FROM t),
    e AS (SELECT doc_id, toks,
                 unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
          FROM c WHERE n_chunks > 0)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           len(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32])
             AS n_chunk_tokens,
           md5(array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32],
                               ' ')) AS chunk_fp
    FROM e
    """,
)


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-then-split sequence packing into 256-token bins over 16
    md5 shards — each shard packs independently (the window partition key),
    so the layout parallelizes instead of requiring one global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return X.pack_sequences(docs, ctx_len=256, n_shards=16)


_register(
    "corpus_pack_sequences",
    _q_pack_sequences,
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 16 AS shard,
             len({_SQL_TOKENS}) AS n_tokens
      FROM documents),
    w AS (
      SELECT shard, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_tok
      FROM d)
    SELECT shard, start_tok // 256 AS bin_idx, doc_id, n_tokens, start_tok
    FROM w
    """,
)


def _q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus with exact
    integer verification columns (L1, position-weighted checksum)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.quantize_int8(emb)


_register(
    "embedding_quantize_int8",
    _q_quantize,
    """
    WITH idx AS (
      SELECT vec_id, embedding, len(embedding) AS n_dims,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings),
    ex AS (SELECT vec_id, n_dims, i,
                  CAST(embedding[i] AS DOUBLE) AS v FROM idx),
    mx AS (SELECT vec_id, n_dims, MAX(ABS(v)) AS max_abs
           FROM ex GROUP BY 1, 2),
    s AS (SELECT vec_id, n_dims,
                 CASE WHEN max_abs > 0 THEN 127.0 / max_abs ELSE 1.0 END
                   AS scale
          FROM mx)
    SELECT e.vec_id, s.n_dims, s.scale,
           CAST(SUM(ABS(CAST(FLOOR(v * scale + 0.5) AS BIGINT))) AS BIGINT)
             AS q_l1,
           CAST(SUM(CAST(FLOOR(v * scale + 0.5) AS BIGINT) * e.i) AS BIGINT)
             AS q_checksum
    FROM ex e JOIN s USING (vec_id)
    GROUP BY 1, 2, 3
    """,
)


# ---------------------------------------------------------------------------
# wave 13: skew-safe distinct, range-band join, grouping sets, best-survivor
# dedup
# ---------------------------------------------------------------------------

from hbase_taggregator_spark.operators.relational import (  # noqa: E402
    range_band_join,
    salted_count_distinct,
)


def _q_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via disjoint-salt partial counts —
    the skew-safe COUNT(DISTINCT) form. Exact by construction (each user
    hashes to one salt bucket), so it shares a plain-SQL oracle."""
    ev = load_table(spark, sf_dir, "events")
    return salted_count_distinct(
        ev, ["event_type"], "user_id", out_col="n_users", salt=16
    )


_register(
    "skew_salted_distinct_users",
    _q_salted_distinct,
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)


def _q_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join rewritten as an equi-join on a grid bucket: events
    joined to value bands without a nested-loop — the band side explodes
    into covered buckets, the fact side never fans out."""
    ev = load_table(spark, sf_dir, "events")
    bands = local_df(
        spark,
        [(0, 100, "low"), (100, 250, "mid"), (250, 500, "high")],
        "lo INT, hi INT, band STRING",
    )
    j = range_band_join(ev, bands, "value", grid=25)
    return j.groupBy("band", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum("value", "sum_value"),
    )


_register(
    "range_band_join_value",
    _q_range_band,
    f"""
    WITH bands(lo, hi, band) AS (VALUES (0, 100, 'low'), (100, 250, 'mid'),
                                        (250, 500, 'high'))
    SELECT band, lo, hi, COUNT(*) AS n_events,
           {_sql_dsum('value')} AS sum_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY 1, 2, 3
    """,
)


def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than rollup/cube) through the
    SQL API, with grouping flags so subtotal rows are unambiguous."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


_register(
    "grouping_sets_status_priority",
    _q_grouping_sets,
    """
    SELECT COALESCE(o_orderstatus, '(all)') AS status,
           COALESCE(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)


def _q_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the *best* duplicate (longest, then lowest id)
    instead of an arbitrary one — survivor selection is an argmax per
    fingerprint group, one shuffle on the 16-byte fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    fp = X.fingerprint(docs)
    nt = X.token_count("text")
    from pyspark.sql import Window as W

    w = W.partitionBy("fp").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    ranked = fp.select("doc_id", "fp", nt.alias("n_tokens")).withColumn(
        "rn", F.row_number().over(w)
    )
    return ranked.filter(F.col("rn") == 1).select("doc_id", "fp", "n_tokens")


_register(
    "dedup_keep_best_quality",
    _q_dedup_best,
    f"""
    WITH t AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
             len({_SQL_TOKENS}) AS n_tokens
      FROM documents),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp
                    ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM t)
    SELECT doc_id, fp, n_tokens FROM r WHERE rn = 1
    """,
)


# ---------------------------------------------------------------------------
# wave 14: streaming sinks and joins — foreachBatch parquet, stream-static,
# stream-stream
# ---------------------------------------------------------------------------


def _q_streaming_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → foreachBatch parquet sink: every microbatch idempotently
    overwrites the output with the full current aggregate (the restart-safe
    object-store sink pattern); the gate reads the final files back and must
    match the batch oracle exactly — any duplication or loss in the sink
    path breaks the hash."""
    import tempfile

    stream = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    stream = stream.filter(F.unix_micros("ts") < F.lit(T_WEEK * US))
    agg = bucketed_stream_agg(
        stream, T0, 7200, {"count": "n", "sum": "sum_value"},
        watermark="1 hour",
    )
    with tempfile.TemporaryDirectory() as d:
        run_to_parquet(spark, agg, f"{d}/out", f"{d}/ckpt")
        back = spark.read.parquet(f"{d}/out").select(
            F.expr("bucket_start_us div 1000").alias("bucket_ms"),
            "n",
            F.col("sum_value").cast(DEC).cast("double").alias("sum_value"),
        )
        out = local_df(spark, back.collect(), back.schema)
    return out


_register(
    "streaming_foreachbatch_sink",
    _q_streaming_foreachbatch,
    f"""
    SELECT {_bucket_sql(T0, 7200)} AS bucket_ms, COUNT(value) AS n,
           {_sql_dsum('value')} AS sum_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """,
)


def _q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    broadcast dimension (customer keyed by user_id) — the standard
    dimension-lookup topology; stateless per microbatch, so state is only
    the downstream aggregate."""
    stream = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = stream.join(F.broadcast(cust), "user_id")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    result = run_to_memory(spark, agg, "stream_static_join_seg")
    return result.select("c_mktsegment", "n_events")


_register(
    "streaming_static_join_segments",
    _q_streaming_static_join,
    """
    SELECT c_mktsegment, COUNT(*) AS n_events
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY 1
    """,
)


def _q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to purchases of the same
    user within the following hour, both sides watermarked so join state is
    evicted after the band passes. Inner join emits on match (no watermark
    hold), so the replayed result equals the batch band-join; the memory
    sink is aggregated in batch to per-user pair counts."""
    clicks = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    purchases = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), "event_id")
        .withWatermark("c_ts", "2 hours")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    pairs = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    sink = run_to_memory(spark, pairs, "stream_stream_pairs", output_mode="append")
    return sink.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


_register(
    "streaming_stream_join_pairs",
    _q_streaming_stream_join,
    f"""
    WITH c AS (SELECT user_id, epoch_us(ts) AS ct FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS pt FROM events
          WHERE event_type = 'purchase')
    SELECT c.user_id, COUNT(*) AS n_pairs
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.pt > c.ct AND p.pt <= c.ct + {3600 * US}
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# wave 11 (round 3): the six remaining TPC-H shapes — q8, q11, q12, q15,
# q20, q21 — completing all 22. The fixture has no partsupp / l_shipmode /
# commit+receipt dates, so those queries keep their SHAPE (the join
# topology, subquery decorrelation pattern, and aggregate structure TPC-H
# exercises) with fixture-expressible predicates, same as q2/q9/q13 before
# them.
# ---------------------------------------------------------------------------


def _q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape: a revenue VIEW (per-supplier quarterly revenue) plus
    a scalar-subquery MAX over the same view, keeping suppliers at the max.
    The scalar aggregate is a 1-row broadcast joined on equality — the
    decorrelation Spark plans for `WHERE total_revenue = (SELECT MAX ...)`.
    Revenue sums accumulate in DECIMAL(28,6) then cast to double, so the
    equality compares identical IEEE values in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            F.expr("l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ'1996-04-01 00:00:00'")
        )
        .groupBy("l_suppkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                   "total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue")
        )
    )


_register(
    "q15_top_supplier",
    _q15_top_supplier,
    f"""
    WITH revenue AS (
      SELECT l_suppkey, {_sql_dsum('l_extendedprice * (1 - l_discount)')}
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)


def _q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape: the EXISTS / NOT-EXISTS double self-join on
    lineitem. A supplier "kept an order waiting" when its line on a
    finished order shipped late (> 100 days after the order date — the
    fixture's stand-in for receiptdate > commitdate), ANOTHER supplier has
    a line on the same order (EXISTS → left-semi on orderkey with
    suppkey-inequality), and NO other supplier's line on that order is late
    (NOT EXISTS → left-anti on the late set with suppkey-inequality). Both
    correlated subqueries decorrelate to keyed joins on l_orderkey — the
    hardest decorrelation pattern in the suite (nothing else in the catalog
    hits anti-join-with-inequality-residual)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_2"
    )
    lo = li.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = lo.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS")
    ).select("l_orderkey", "l_suppkey")
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    l1 = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        l1.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_register(
    "q21_waiting_suppliers",
    _q21_waiting_suppliers,
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'),
    late AS (
      SELECT l_orderkey, l_suppkey FROM lo
      WHERE l_shipdate > o_orderdate + INTERVAL 100 DAY)
    SELECT s_name, COUNT(*) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_2'
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY 1
    """,
)


def _q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape: national market share — the conditional-sum ratio
    SUM(CASE nation THEN volume)/SUM(volume) per order year, over the
    5-way join lineitem ⋈ orders ⋈ customer(region) ⋈ supplier ⋈ nation
    with a part filter. All dimension sides broadcast; both sums accumulate
    in DECIMAL(28,6) and divide once in double."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust_region = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select(F.col("n_nationkey").alias("cn_nationkey"))
            ),
            F.col("c_nationkey") == F.col("cn_nationkey"),
        ).select("c_custkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_region, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    target_vol = F.when(F.col("n_name") == "NATION_7", vol).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            _dsum(target_vol, "nation_volume"),
            _dsum(vol, "total_volume"),
        )
        .select(
            "o_year",
            "nation_volume",
            "total_volume",
            (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
        )
    )


_register(
    "q8_market_share",
    _q8_market_share,
    f"""
    WITH j AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS vol,
             n_name
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE o_custkey IN (
              SELECT c_custkey FROM customer
              JOIN nation cn ON c_nationkey = cn.n_nationkey
              JOIN region ON cn.n_regionkey = r_regionkey
              WHERE r_name = 'ASIA')
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO'))
    SELECT o_year,
           {_sql_dsum("CASE WHEN n_name = 'NATION_7' THEN vol ELSE 0.0 END")}
             AS nation_volume,
           {_sql_dsum('vol')} AS total_volume,
           {_sql_dsum("CASE WHEN n_name = 'NATION_7' THEN vol ELSE 0.0 END")}
             / {_sql_dsum('vol')} AS mkt_share
    FROM j GROUP BY 1
    """,
)


def _q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape: per-part value held by one nation's suppliers,
    HAVING sum > fraction × (scalar subquery of the SAME aggregate over the
    same filtered set). No partsupp in the fixture, so the "stock value" is
    lineitem extendedprice×quantity for that nation's suppliers. The scalar
    total is a 1-row broadcast; the threshold comparison is double-exact
    (both sides decimal-accumulated)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    nat_supp = supp.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    value = F.col("l_extendedprice") * F.col("l_quantity")
    filtered = li.join(
        F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    per_part = filtered.groupBy("l_partkey").agg(_dsum(value, "part_value"))
    total = filtered.agg(
        (_dsum(value, "__t"))
    ).select((F.col("__t") * 0.0001).alias("__thresh"))
    return (
        per_part.join(F.broadcast(total), F.col("part_value") > F.col("__thresh"))
        .select("l_partkey", "part_value")
    )


_register(
    "q11_important_stock",
    _q11_important_stock,
    f"""
    WITH f AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS value
      FROM lineitem
      WHERE l_suppkey IN (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'))
    SELECT l_partkey, {_sql_dsum('value')} AS part_value
    FROM f
    GROUP BY 1
    HAVING {_sql_dsum('value')} >
      (SELECT {_sql_dsum('value')} * 0.0001 FROM f)
    """,
)


def _q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape: line counts split by order priority (CASE-sum) per
    ship-mode class. No l_shipmode in the fixture, so the class is derived
    from ship lag (days from order to ship date): <= 35 days is 'FAST',
    otherwise 'SLOW' — same two-group CASE-aggregation the original runs
    over ('MAIL','SHIP'). Lag uses date-granularity datediff in both
    engines; negative-lag (synthetic) rows are excluded like the original's
    commitdate sandwich."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (lag >= 0)
            & F.expr("l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
        )
        .withColumn(
            "ship_mode", F.when(lag <= 35, "FAST").otherwise("SLOW")
        )
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_register(
    "q12_shipmode_priority",
    _q12_shipmode_priority,
    """
    WITH j AS (
      SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                 CAST(l_shipdate AS DATE)) <= 35
                  THEN 'FAST' ELSE 'SLOW' END AS ship_mode,
             o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE date_diff('day', CAST(o_orderdate AS DATE),
                      CAST(l_shipdate AS DATE)) >= 0
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01')
    SELECT ship_mode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM j GROUP BY 1
    """,
)


def _q20_potential_promotions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape: nested IN-subqueries with a correlated aggregate
    threshold — suppliers who shipped more than 25% of a widget-part's 1996
    volume (the fixture analog of availqty > 0.5 × shipped-qty on
    partsupp). Inner per-(part, supplier) and per-part sums share one scan;
    the threshold compare is double-exact on decimal-accumulated sums;
    the id filter decorrelates to a semi-join into supplier."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    supp = load_table(spark, sf_dir, "supplier")
    shipped = (
        li.filter(
            F.expr("l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    per_ps = shipped.groupBy("l_partkey", "l_suppkey").agg(
        _dsum("l_quantity", "supp_qty")
    )
    per_p = per_ps.groupBy("l_partkey").agg(
        F.sum(F.col("supp_qty").cast(DEC)).cast("double").alias("part_qty")
    )
    big = (
        per_ps.join(per_p, "l_partkey")
        .filter(F.col("supp_qty") > 0.25 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(big, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


_register(
    "q20_potential_promotions",
    _q20_potential_promotions,
    f"""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, l_quantity
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE '%widget%')),
    per_ps AS (
      SELECT l_partkey, l_suppkey, {_sql_dsum('l_quantity')} AS supp_qty
      FROM shipped GROUP BY 1, 2),
    per_p AS (
      SELECT l_partkey,
             CAST(SUM(CAST(supp_qty AS DECIMAL(28,6))) AS DOUBLE) AS part_qty
      FROM per_ps GROUP BY 1)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM per_ps JOIN per_p USING (l_partkey)
      WHERE supp_qty > 0.25 * part_qty)
    """,
)


# ---------------------------------------------------------------------------
# wave 15 (round 3): k-means-refined IVF, multimodal header decode,
# window-form exact-dedup survivors
# ---------------------------------------------------------------------------


def _q_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@5 with ONE Lloyd refinement of the first-16 centroid init
    (operators.similarity.kmeans_refine): map-side assign → decimal-exact
    per-dimension means → re-probe. The oracle restates the full iteration
    (assignment argmax, component means, refreshed norms, probe, recall) in
    SQL, so centroid refinement is hash-gated, not just rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    refined = S.kmeans_refine(emb, S.seed_centroids(emb, 16), n_iter=1)
    quant = S.coarse_quantizer(refined)
    index, _ = S.build_ivf_index(emb, quant)
    ivf = S.ivf_search(index, queries, quant, k=5, n_probe=4)
    return _recall_vs_exact(emb, queries, ivf, k=5)


def _ivf_kmeans_recall_sql(
    n_centroids: int = 16, n_probe: int = 4, k: int = 5
) -> str:
    return f"""
    WITH {_SQL_E},
    cd0 AS (
      SELECT v.vec_id, c.vec_id AS cent_id,
             CAST(SUM(CAST(v.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS cdot
      FROM e v JOIN e c ON v.i = c.i AND c.vec_id < {n_centroids}
      GROUP BY 1, 2),
    cscore0 AS (
      SELECT vd.vec_id, cent_id, cdot / (nv.nrm * nc.nrm) AS ccos
      FROM cd0 vd JOIN norms nv ON nv.vec_id = vd.vec_id
                  JOIN norms nc ON nc.vec_id = cent_id),
    assign0 AS (
      SELECT vec_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore0) WHERE rk = 1),
    newc AS (
      SELECT a.cent_id, v.i,
             CAST(SUM(CAST(v.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS w
      FROM assign0 a JOIN e v ON v.vec_id = a.vec_id
      GROUP BY 1, 2),
    ncn AS (
      SELECT cent_id,
             sqrt(CAST(SUM(CAST(w * w AS DECIMAL(18,12))) AS DOUBLE)) AS cnrm
      FROM newc GROUP BY 1),
    cd1 AS (
      SELECT v.vec_id, c.cent_id,
             CAST(SUM(CAST(v.v * c.w AS DECIMAL(18,12))) AS DOUBLE) AS cdot
      FROM e v JOIN newc c ON v.i = c.i
      GROUP BY 1, 2),
    cscore1 AS (
      SELECT cd1.vec_id, cd1.cent_id, cdot / (nv.nrm * ncn.cnrm) AS ccos
      FROM cd1 JOIN norms nv ON nv.vec_id = cd1.vec_id
               JOIN ncn ON ncn.cent_id = cd1.cent_id),
    assign1 AS (
      SELECT vec_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore1) WHERE rk = 1),
    probes1 AS (
      SELECT vec_id AS query_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore1 WHERE vec_id < 10) p WHERE rk <= {n_probe}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored) WHERE rk <= {k}),
    ivfs AS (
      SELECT s.query_id, s.vec_id, s.cosine
      FROM scored s JOIN assign1 a ON a.vec_id = s.vec_id
                    JOIN probes1 p ON p.query_id = s.query_id
                                  AND p.cent_id = a.cent_id),
    ivf AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM ivfs) WHERE rk <= {k}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN ivf USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(k)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """


_register(
    "similarity_ivf_kmeans_recall_at_5",
    _q_ivf_kmeans_recall,
    _ivf_kmeans_recall_sql(),
)


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata decode over binary payloads: deterministic REAL
    PNG/GIF/BMP header bytes are synthesized per doc_id from JVM
    expressions (operators.multimodal.synth_image_payload), then parsed
    back by the pure-Python header decoder through the Arrow mapInPandas
    boundary. The oracle recomputes the expected (fmt, width, height)
    arithmetically — so any byte-layout or parsing error on either side of
    the round-trip breaks the hash."""
    from hbase_taggregator_spark.operators.multimodal import (
        decode_image,
        synth_image_payload,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    w = (F.col("doc_id") % 640 + 16).cast("int")
    h = ((F.col("doc_id") * 7) % 480 + 16).cast("int")
    fmt = (
        F.when(F.col("doc_id") % 3 == 0, "png")
        .when(F.col("doc_id") % 3 == 1, "gif")
        .otherwise("bmp")
    )
    payload = synth_image_payload(w, h, fmt)
    return decode_image(docs.withColumn("payload", payload))


_register(
    "multimodal_decode_headers",
    _q_multimodal_decode,
    """
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
                WHEN 1 THEN 'gif' ELSE 'bmp' END AS fmt,
           CAST(doc_id % 640 + 16 AS INTEGER) AS width,
           CAST((doc_id * 7) % 480 + 16 AS INTEGER) AS height
    FROM documents
    """,
)


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_dedup with keep_columns: surviving full rows (here: + lang)
    without a caller-side re-join — the window form of the fingerprint
    groupBy (one shuffle either way)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, keep_columns=["lang"])


_register(
    "dedup_exact_survivor_rows",
    _q_dedup_survivors,
    """
    WITH t AS (
      SELECT doc_id, lang,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY fp) AS n_duplicates
      FROM t)
    SELECT fp, doc_id, lang, n_duplicates FROM r WHERE rn = 1
    """,
)


def _q_jaccard_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency-filtered exact Jaccard: shingles in more than 20
    docs (boilerplate) are excluded from the similarity universe before the
    quadratic self-join — the df-filter skew guard for n-gram Jaccard at
    scale (any shingle's pair fan-out bounded by max_doc_freq²). The oracle
    restates the same filtered universe."""
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, threshold=0.4, max_doc_freq=20)


_register(
    "dedup_jaccard_df_capped",
    _q_jaccard_df_capped,
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh0 AS (SELECT doc_id, unnest({_SQL_SHINGLES3}) AS s FROM t),
    oks AS (SELECT s FROM sh0 GROUP BY 1 HAVING COUNT(*) <= 20),
    sh AS (SELECT sh0.* FROM sh0 JOIN oks USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.4
    """,
)


def _q_rollup_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate reuse: hourly rollup maintained once, daily
    answer re-aggregated FROM the rollup (max-of-max / sum-of-sum in
    decimal / count-of-count, avg at read time) — never rescanning raw
    events. The oracle aggregates the raw table directly at the daily
    grain: decimal re-summation makes the two paths bit-identical."""
    from hbase_taggregator_spark.operators.timeseries import continuous_rollup

    events = load_table(
        spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US)
    )
    _fine, coarse = continuous_rollup(events, T0, T_WEEK, 3600, 86400)
    return coarse.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "max_value", "min_value", "sum_value", "count_value", "avg_value",
    )


_register(
    "ts_rollup_hourly_to_daily",
    _q_rollup_reuse,
    f"""
    SELECT {{bucket}} AS bucket_ms,
           MAX(value) AS max_value, MIN(value) AS min_value,
           {{dsum}} AS sum_value, COUNT(value) AS count_value,
           {{dsum}} / COUNT(value) AS avg_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """.format(bucket=_bucket_sql(T0, 86400), dsum=_sql_dsum("value")),
)


def _q_streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark over real microbatches (the
    4-file replay): first arrival per (user_id, event_type) key, state
    evicted past the watermark. The watermark delay (30 days) exceeds the
    fixture's whole time span so no key is evicted mid-replay — making the
    RESULT deterministic (the surviving-row choice is arrival-order-
    dependent, the distinct-key count is not) while still exercising the
    watermarked dedup state machinery end-to-end. The oracle is the exact
    distinct count."""
    import tempfile

    events = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        events.repartition(4).write.parquet(src)
        stream = replay_parquet_stream(spark, src, max_files_per_trigger=1)
        deduped = stream.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
            ["user_id", "event_type"]
        )
        sink = run_to_memory(spark, deduped, "stream_dedup_wm", output_mode="append")
        final = sink.agg(F.count(F.lit(1)).alias("n_distinct_keys"))
        out = local_df(spark, final.collect(), final.schema)
    return out


_register(
    "streaming_dedup_within_watermark",
    _q_streaming_dedup_watermark,
    """
    SELECT COUNT(*) AS n_distinct_keys
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    """,
)


def _q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC recall@5 against exact Euclidean top-k:
    per-subspace codebooks (first-16 init, LLOYD-REFINED one iteration —
    assign→decimal-mean per subspace, empty codewords keep their init),
    map-side encoding to m=4 codes, per-query distance LUT, 4-term
    decimal-exact ADC sums. The oracle restates the whole scheme —
    init argmin, per-subspace mean update, refined-codebook encode,
    LUT, ADC ranking, exact-L2 ground truth — so PQ is hash-gated end
    to end (r12: re-gated with the refined codebooks per VERDICT r11
    #4; refined-vs-init recall censused at the sf1 hard fixture in
    tools/bench_pq_r12.json). The search is the IVF index's pq pass over
    ONE cell, so every query probes every corpus code."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    one_cell = S.coarse_quantizer(S.seed_centroids(emb, 1))
    index, codec = S.build_ivf_index(
        emb, one_cell, S.Codec("pq", m=4, n_codes=16, refine_iters=1)
    )
    pq = S.ivf_search(index, queries, one_cell, codec, k=5, n_probe=1)
    exact = S.l2_topk(emb, queries, k=5).select("query_id", "vec_id")
    hits = (
        exact.join(pq.select("query_id", "vec_id"),
                   ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = queries.select(F.col("vec_id").alias("query_id"))
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) / F.lit(5.0)).alias("recall_at_5"),
    )


def _pq_recall_sql(m: int = 4, n_codes: int = 16, k: int = 5, dim: int = 64) -> str:
    """PQ-ADC recall@k with ONE Lloyd refinement of the sampling-init
    codebooks restated relationally — the refinement chain is the
    shared ``oracle_fragments.pq_refined_ctes`` (init assignment →
    decimal means → empty-codeword carryover → refined encode), also
    composed by the r12 IVFADC gate. LUT / ADC run against the REFINED
    distances; the ADC re-sum routes doubles through VARCHAR before
    the decimal cast (r8 ADVICE discipline)."""
    from hbase_taggregator_spark.oracle_fragments import pq_refined_ctes

    return f"""
    WITH {_SQL_E},
    {pq_refined_ctes(m=m, n_codes=n_codes, dim=dim)},
    lut AS (
      SELECT vec_id AS query_id, s, code, d
      FROM encd WHERE vec_id < 10),
    adc AS (
      SELECT l.query_id, enc.vec_id,
             CAST(SUM(CAST(CAST(l.d AS VARCHAR) AS DECIMAL(18,12)))
               AS DOUBLE) AS adc_dist
      FROM enc JOIN lut l ON l.s = enc.s AND l.code = enc.code
      WHERE l.query_id != enc.vec_id
      GROUP BY 1, 2),
    pq AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, vec_id) AS rk
        FROM adc) WHERE rk <= {k}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    l2s AS (
      SELECT query_id, d.vec_id,
             nq.nrm * nq.nrm + nc.nrm * nc.nrm - 2 * dot AS d2
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY d2, vec_id) AS rk
        FROM l2s) WHERE rk <= {k}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN pq USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(k)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """


_register("similarity_pq_recall_at_5", _q_pq_recall, _pq_recall_sql())



# ---------------------------------------------------------------------------
# wave 12 (round 3): TWA / counter rate, BM25 retrieval, duplicate
# clusters (connected components), stratified data mixing
# ---------------------------------------------------------------------------


def _q_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per (event_type, 6h bucket): irregular-sample
    LOCF weighting inside the bucket, decimal-exact value*dt accumulation.
    The oracle restates the identical lead-window algebra."""
    from hbase_taggregator_spark.operators.timeseries import time_weighted_avg

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return time_weighted_avg(events, T0, T_WEEK, 21600).select(
        "event_type",
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "n_points", "covered_us", "twa_value",
    )


def _twa_sql(interval_s: int = 21600) -> str:
    lo, hi, ival = T0 * US, T_WEEK * US, interval_s * US
    return f"""
    WITH f AS (
      SELECT event_type, event_id, epoch_us(ts) AS us, value,
             {lo} + ((epoch_us(ts) - {lo}) // {ival}) * {ival} AS bus
      FROM events
      WHERE epoch_us(ts) >= {lo} AND epoch_us(ts) < {hi}),
    w AS (
      SELECT event_type, bus, value,
             COALESCE(LEAD(us) OVER (PARTITION BY event_type, bus
                                     ORDER BY us, event_id),
                      bus + {ival}) - us AS dt_us
      FROM f)
    SELECT event_type, bus // 1000 AS bucket_ms,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(dt_us) AS BIGINT) AS covered_us,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT)
                    * dt_us) AS DOUBLE)
             / (CAST(SUM(dt_us) AS DOUBLE) * 1000.0) AS twa_value
    FROM w GROUP BY 1, 2
    """


_register("ts_time_weighted_avg_21600", _q_twa, _twa_sql())


def _q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style increase()/rate() with counter-reset handling per
    (event_type, 6h bucket); lag window partitioned by series only so
    deltas cross bucket boundaries."""
    from hbase_taggregator_spark.operators.timeseries import counter_rate

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return counter_rate(events, T0, T_WEEK, 21600).select(
        "event_type",
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "n_deltas", "n_resets", "increase", "rate_per_s",
    )


def _counter_rate_sql(interval_s: int = 21600) -> str:
    lo, hi, ival = T0 * US, T_WEEK * US, interval_s * US
    return f"""
    WITH f AS (
      SELECT event_type, event_id, epoch_us(ts) AS us, value,
             {lo} + ((epoch_us(ts) - {lo}) // {ival}) * {ival} AS bus
      FROM events
      WHERE epoch_us(ts) >= {lo} AND epoch_us(ts) < {hi}),
    w AS (
      SELECT event_type, bus, value,
             LAG(value) OVER (PARTITION BY event_type
                              ORDER BY us, event_id) AS prev
      FROM f),
    c AS (
      SELECT event_type, bus, value - prev AS delta,
             CASE WHEN prev IS NULL THEN NULL
                  WHEN value - prev < 0 THEN value
                  ELSE value - prev END AS contrib
      FROM w)
    SELECT event_type, bus // 1000 AS bucket_ms,
           CAST(COUNT(contrib) AS BIGINT) AS n_deltas,
           CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resets,
           CAST(SUM(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE) AS increase,
           CAST(SUM(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE)
             / {float(interval_s)!r} AS rate_per_s
    FROM c GROUP BY 1, 2
    """


_register("ts_counter_rate_21600", _q_counter_rate, _counter_rate_sql())


_BM25_TERMS = ("spark", "vector", "merge")


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (rational-idf variant — every op an IEEE
    correctly-rounded primitive, so the oracle is bit-equal): top-20 docs
    for a fixed 3-term query, deterministic tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        X.bm25_scores(docs, list(_BM25_TERMS))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


def _bm25_sql(k1: float = 1.2, b: float = 0.75) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    base AS (SELECT doc_id, len(toks) AS dl, toks FROM t),
    stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
              FROM base),
    tr AS (SELECT doc_id, dl, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, dl, COUNT(*) AS tf FROM tr
           WHERE term IN ({terms}) GROUP BY 1, 2, 3),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    sc AS (
      SELECT tf.doc_id,
             ((CAST(n_docs - df AS DOUBLE) + 0.5)
                / (CAST(df AS DOUBLE) + 0.5) + 1.0)
             * ((CAST(tf AS DOUBLE) * {k1 + 1.0!r})
                / (CAST(tf AS DOUBLE)
                   + {k1!r} * ({1.0 - b!r} + {b!r}
                     * (CAST(dl AS DOUBLE)
                        / (CAST(sum_dl AS DOUBLE) / n_docs))))) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN stats),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
             CAST(SUM(CAST(score AS DECIMAL(18,12))) AS DOUBLE) AS bm25
      FROM sc GROUP BY 1)
    SELECT doc_id, n_terms_matched, bm25 FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
      FROM agg) WHERE rk <= 20
    """


_register("text_bm25_retrieval", _q_bm25, _bm25_sql())


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: exact-Jaccard pairs at 0.4 collapsed by
    iterative min-label connected components; the oracle computes the same
    components with a recursive CTE (min reachable id)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold=0.4)
    return D.duplicate_components(pairs).select(
        F.col("node_id").alias("doc_id"), "component_id", "component_size"
    )


_register(
    "dedup_duplicate_clusters",
    _q_dup_clusters,
    f"""
    WITH RECURSIVE t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_SQL_SHINGLES3}) AS s FROM t),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.4),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl),
    comp AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id),
    csize AS (SELECT component_id, CAST(COUNT(*) AS BIGINT)
                AS component_size FROM comp GROUP BY 1)
    SELECT id AS doc_id, component_id, component_size
    FROM comp JOIN csize USING (component_id)
    """,
)


_MIX_FRACTIONS = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.1, "zh": 0.05}


def _q_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing sample: per-language keep fractions via
    md5 bucketing — stable under rebuilds, pure map-side filter."""
    docs = load_table(spark, sf_dir, "documents")
    return X.stratified_sample(docs, "lang", _MIX_FRACTIONS).select(
        "doc_id", "lang", "mix_bucket"
    )


def _mix_sql(buckets: int = 10_000) -> str:
    whens = " ".join(
        f"WHEN lang = '{s}' THEN {int(f * buckets)}"
        for s, f in sorted(_MIX_FRACTIONS.items())
    )
    bucket = (
        "CAST(concat('0x', substr(md5('mix:' || lang || ':' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % {buckets}"
    )
    return f"""
    WITH b AS (SELECT doc_id, lang, {bucket} AS mix_bucket FROM documents)
    SELECT doc_id, lang, mix_bucket FROM b
    WHERE mix_bucket < CASE {whens} ELSE 0 END
    """


_register("corpus_stratified_mix", _q_stratified_mix, _mix_sql())



def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (copy-on-write upsert + tombstone deletes) as
    updates-union-anti-join; the delta is broadcast so the base never
    shuffles. Update/new/delete sets are derived deterministically from
    the base table so the oracle restates them exactly."""
    from hbase_taggregator_spark.operators.relational import merge_upsert

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd = (
        cust.filter((k % 7 == 0) | (k % 13 == 0))
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000)
        .withColumn("__del", k % 13 == 0)
    )
    new = (
        cust.filter(k % 97 == 0)
        .withColumn("c_custkey", k + 1000000)
        .withColumn("__del", F.lit(False))
    )
    merged = merge_upsert(
        cust, upd.unionByName(new), ["c_custkey"],
        delete_col="__del", broadcast_updates=True,
    )
    return merged.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


_register(
    "merge_upsert_customers",
    _q_merge_upsert,
    """
    WITH upd AS (
      SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, c_mktsegment,
             c_custkey % 13 = 0 AS del
      FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 13 = 0),
    newr AS (
      SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal,
             c_mktsegment, FALSE AS del
      FROM customer WHERE c_custkey % 97 = 0),
    updates AS (SELECT * FROM upd UNION ALL SELECT * FROM newr)
    SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM updates u
                      WHERE u.c_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM updates WHERE NOT del
    """,
)


def _q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language heavy hitters (vocabulary heads): partial/final
    counted, deterministic term tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    return X.top_terms(docs, k=5, group_cols=("lang",))


_register(
    "text_top_terms_per_lang",
    _q_top_terms,
    f"""
    WITH t AS (SELECT lang, unnest({_SQL_TOKENS}) AS term FROM documents),
    c AS (SELECT lang, term, COUNT(*) AS n_occurrences FROM t GROUP BY 1, 2)
    SELECT lang, CAST(rk AS INT) AS rank, term, n_occurrences FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY n_occurrences DESC, term) AS rk
      FROM c) WHERE rk <= 5
    """,
)


def _q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (user_id, floor(value)) — the
    multi-dimension data-skipping layout; the oracle restates the exact
    bit interleave."""
    from hbase_taggregator_spark.sources.layout import zvalue

    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_id",
            "user_id",
            F.floor("value").cast("long").alias("vbucket"),
        )
        .withColumn("zval", zvalue(["user_id", "vbucket"], n_bits=9))
        .select("event_id", "user_id", "vbucket", "zval")
    )


def _zorder_sql() -> str:
    from hbase_taggregator_spark.sources.layout import zvalue_sql

    z = zvalue_sql(["user_id", "vbucket"], n_bits=9)
    return f"""
    WITH b AS (SELECT event_id, user_id,
                      CAST(floor(value) AS BIGINT) AS vbucket FROM events)
    SELECT event_id, user_id, vbucket, {z} AS zval FROM b
    """


_register("layout_zorder_values", _q_zorder, _zorder_sql())



def _q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas semantics: closer of backward/
    forward, ties backward): each purchase matched to the temporally
    nearest click of the same user. Right side pre-deduped to one click
    per (user, ts) so both engines choose identically at duplicate
    timestamps."""
    from hbase_taggregator_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    joined = asof_join(
        purchases, clicks, ["user_id"], "ts", "ts",
        right_cols=["click_id"], direction="nearest",
    )
    return joined.select(
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        "event_id",
        "click_id_right",
        F.unix_micros("ts_right").alias("click_ts_us"),
    )


_register(
    "asof_nearest_click",
    _q_asof_nearest,
    """
    WITH p AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, MIN(event_id) AS click_id FROM events
          WHERE event_type = 'click' GROUP BY 1, 2),
    b AS (
      SELECT p.user_id, p.ts, p.event_id, c.click_id, c.ts AS cts
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
    f AS (
      SELECT p.user_id, p.ts, p.event_id, c.click_id, c.ts AS cts
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts)
    SELECT b.user_id, epoch_us(b.ts) AS purchase_ts_us, b.event_id,
           CASE WHEN b.cts IS NOT NULL AND (f.cts IS NULL OR
                     epoch_us(b.ts) - epoch_us(b.cts)
                       <= epoch_us(f.cts) - epoch_us(f.ts))
                THEN b.click_id ELSE f.click_id END AS click_id_right,
           CASE WHEN b.cts IS NOT NULL AND (f.cts IS NULL OR
                     epoch_us(b.ts) - epoch_us(b.cts)
                       <= epoch_us(f.cts) - epoch_us(f.ts))
                THEN epoch_us(b.cts) ELSE epoch_us(f.cts) END AS click_ts_us
    FROM b JOIN f ON f.event_id = b.event_id
    """,
)


def _q_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bucket-probed negative sampling: 2 negatives per
    anchor document, pair-hash argmin inside a pseudo-random md5 bucket.
    Bucket count adapts to corpus size (max(16, n//256)) — the oracle
    computes the same integer formula."""
    docs = load_table(spark, sf_dir, "documents")
    return S.negative_pairs(docs, k=2)


def _negative_pairs_sql(k: int = 2) -> str:
    h = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"
    hb = h.format(x="'negb:' || CAST(doc_id AS VARCHAR)")
    hr = h.format(x="'negr:' || CAST(doc_id AS VARCHAR)")
    hp = h.format(x="'negp:' || CAST(anchor AS VARCHAR) || ':' || CAST(neg_idx AS VARCHAR)")
    return f"""
    WITH nb AS (SELECT GREATEST(16, COUNT(*) // 256) AS n FROM documents),
    cand AS (SELECT doc_id AS neg_id, {hb} % (SELECT n FROM nb) AS bkt,
                    {hr} AS hr
             FROM documents),
    anchors AS (SELECT doc_id AS anchor, unnest(generate_series(0, {k - 1}))
                  AS neg_idx FROM documents),
    probes AS (SELECT anchor, neg_idx, {hp} AS hp,
                      {hp} % (SELECT n FROM nb) AS bkt
               FROM anchors),
    scored AS (
      SELECT anchor, neg_idx, neg_id, (hp + hr) % {1 << 60} AS rnd
      FROM probes JOIN cand USING (bkt) WHERE neg_id != anchor)
    SELECT anchor, neg_idx, neg_id FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor, neg_idx
                                   ORDER BY rnd, neg_id) AS rk
      FROM scored) WHERE rk = 1
    """


_register("corpus_negative_pairs", _q_negative_pairs, _negative_pairs_sql())


def _q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous rollup: the HOURLY fine rollup is maintained by
    a watermarked streaming aggregation over real microbatches (4-file
    replay), then the DAILY answer is re-aggregated from the sink —
    max-of-max / decimal sum-of-sum / count-of-count, bit-identical to a
    raw daily scan (which is what the oracle computes)."""
    import tempfile

    from hbase_taggregator_spark.operators.timeseries import read_rollup, rollup_state

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        events.write.parquet(src, mode="overwrite")
        stream = replay_parquet_stream(spark, src, max_files_per_trigger=1)
        fine = stream_aggregate(
            stream, T0, 3600, *rollup_state(), watermark="30 days"
        )
        coarse = read_rollup(
            run_to_memory(spark, fine, "stream_rollup_fine"), T0, 86400
        ).select(
            F.expr("bucket_start_us div 1000").alias("bucket_ms"),
            "max_value", "min_value", "sum_value", "count_value",
        )
        out = local_df(spark, coarse.collect(), coarse.schema)
    return out


_register(
    "streaming_continuous_rollup",
    _q_streaming_rollup,
    f"""
    SELECT {{bucket}} AS bucket_ms,
           MAX(value) AS max_value, MIN(value) AS min_value,
           {{dsum}} AS sum_value, COUNT(value) AS count_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """.format(bucket=_bucket_sql(T0, 86400), dsum=_sql_dsum("value")),
)



def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over the Arrow boundary: synthetic byte-real
    containers demuxed by actual header parsing + offset math; every-2nd
    frame fingerprinted. The oracle regenerates the same frames from the
    construction algebra — a parsing bug cannot hash-match."""
    from hbase_taggregator_spark.operators.multimodal import (
        sample_frames,
        synth_video_payload,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    vids = docs.withColumn("payload", synth_video_payload(F.col("doc_id")))
    return sample_frames(vids, every_n=2)


_register(
    "multimodal_frame_sample",
    _q_frame_sample,
    """
    WITH n AS (SELECT doc_id, 4 + doc_id % 5 AS nf FROM documents),
    idx AS (SELECT doc_id,
                   unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 2))
                     AS frame_idx
            FROM n)
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(16 AS INT) AS frame_len,
           md5(upper(md5('frame:' || CAST(doc_id AS VARCHAR) || ':'
                         || CAST(frame_idx AS VARCHAR)))) AS frame_fp
    FROM idx
    """,
)



def _q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom join-pruning: BUILDING-segment customer keys build an
    8192-bit filter; orders are pruned MAP-SIDE (zero shuffle, no join
    node) before any exact join would run. Deterministic md5 bit algebra —
    the oracle reproduces the exact survivor set including false
    positives."""
    from hbase_taggregator_spark.operators.sketch import bloom_filter_semi

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    kept = bloom_filter_semi(orders, cust, "o_custkey", "c_custkey")
    return kept.select("o_orderkey", "o_custkey")


def _bloom_sql(m: int = 8192, k: int = 3) -> str:
    from hbase_taggregator_spark.operators.sketch import bloom_sql_positions

    bpos = ", ".join(bloom_sql_positions("c_custkey", m, k))
    ppos = ", ".join(bloom_sql_positions("o_custkey", m, k))
    return f"""
    WITH bpos AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([{bpos}]) AS pos
        FROM customer WHERE c_mktsegment = 'BUILDING')),
    ppos AS (
      SELECT o_orderkey, o_custkey, unnest([{ppos}]) AS pos FROM orders),
    ok AS (
      SELECT o_orderkey FROM ppos JOIN bpos USING (pos)
      GROUP BY o_orderkey HAVING COUNT(*) = {k})
    SELECT o_orderkey, o_custkey FROM orders JOIN ok USING (o_orderkey)
    """


_register("bloom_runtime_filter_orders", _q_bloom_filter, _bloom_sql())


_CMS_TERMS = ("spark", "table", "zebra")


def _q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates over corpus token occurrences
    (m=64 buckets forces real collisions — overcounts are part of the
    deterministic semantics and the oracle reproduces them)."""
    from hbase_taggregator_spark.operators.sketch import (
        count_min_lookup,
        count_min_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.tokens("text")).alias("term"))
    sk = count_min_sketch(toks, "term", m=64, d=4)
    keys = local_df(spark, [(t,) for t in _CMS_TERMS], "term string")
    return count_min_lookup(sk, keys, "term", m=64, d=4)


def _cms_sql(m: int = 64, d: int = 4) -> str:
    terms = ", ".join(f"('{t}')" for t in _CMS_TERMS)
    h = ("CAST(concat('0x', substr(md5('cms:' || CAST(i AS VARCHAR) || ':' "
         "|| term), 1, 15)) AS BIGINT)")
    return f"""
    WITH occ AS (SELECT unnest({_SQL_TOKENS}) AS term FROM documents),
    ii AS (SELECT unnest(generate_series(0, {d - 1})) AS i),
    counters AS (
      SELECT i, {h} % {m} AS b, COUNT(*) AS counter
      FROM occ, ii GROUP BY 1, 2),
    q(term) AS (VALUES {terms}),
    qpos AS (SELECT term, i, {h} % {m} AS b FROM q, ii)
    SELECT term, MIN(COALESCE(counter, 0)) AS cm_estimate
    FROM qpos LEFT JOIN counters USING (i, b)
    GROUP BY term
    """


_register("sketch_count_min_estimates", _q_count_min, _cms_sql())



def _q_udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow grouped-agg UDAF surface: pandas Series -> int64 weighted
    cents sum inside groupBy().agg(), mean derived JVM-side. Integer
    accumulation keeps the Python-side sum order-free."""
    from hbase_taggregator_spark.functions.udafs import (
        int_sum,
        weighted_cents_sum,
    )

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    d = events.withColumn("w", (F.col("event_id") % 5 + 1).cast("long"))
    agg = d.groupBy("event_type").agg(
        weighted_cents_sum("value", "w").alias("wsum_cents"),
        int_sum("w").alias("total_w"),
    )
    return agg.select(
        "event_type", "wsum_cents", "total_w",
        (F.col("wsum_cents").cast("double") / F.lit(100.0)
         / F.col("total_w")).alias("weighted_mean"),
    )


_register(
    "udaf_weighted_mean_cents",
    _q_udaf_weighted_mean,
    f"""
    SELECT event_type,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)
                    * (event_id % 5 + 1)) AS BIGINT) AS wsum_cents,
           CAST(SUM(event_id % 5 + 1) AS BIGINT) AS total_w,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)
                    * (event_id % 5 + 1)) AS BIGINT)
             / 100.0 / CAST(SUM(event_id % 5 + 1) AS BIGINT) AS weighted_mean
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """,
)


def _q_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series least-squares slope from exact int64 moments, cross
    terms in deterministic double arithmetic."""
    from hbase_taggregator_spark.operators.timeseries import linear_trend

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return linear_trend(events, T0, T_WEEK)


_register(
    "ts_linear_trend_per_type",
    _q_linear_trend,
    f"""
    WITH d AS (
      SELECT event_type,
             (epoch_us(ts) - {T0 * US}) // 1000000 AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}),
    mo AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM d GROUP BY 1)
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / 100.0 AS slope_per_s
    FROM mo
    """,
)


def _q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-row z-score outliers per series (population variance
    over cent-quantized int64 frame sums; |z| >= 2 flagged)."""
    from hbase_taggregator_spark.operators.timeseries import (
        rolling_zscore_anomalies,
    )

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return rolling_zscore_anomalies(events, T0, T_WEEK).select(
        "event_type", "event_id", "us", "v", "n", "zscore"
    )


_register(
    "ts_rolling_zscore_outliers",
    _q_rolling_zscore,
    f"""
    WITH d AS (
      SELECT event_type, event_id, epoch_us(ts) AS us, value AS v,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cy
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}),
    w AS (
      SELECT event_type, event_id, us, v, cy,
             COUNT(*) OVER fr AS n,
             CAST(SUM(cy) OVER fr AS BIGINT) AS sy,
             CAST(SUM(cy * cy) OVER fr AS BIGINT) AS syy
      FROM d
      WINDOW fr AS (PARTITION BY event_type ORDER BY us, event_id
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT event_type, event_id, us, v, n,
           (CAST(cy AS DOUBLE) - CAST(sy AS DOUBLE) / n)
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                    / (CAST(n AS DOUBLE) * n)) AS zscore
    FROM w
    WHERE n * syy - sy * sy > 0
      AND abs((CAST(cy AS DOUBLE) - CAST(sy AS DOUBLE) / n)
              / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                     / (CAST(n AS DOUBLE) * n))) >= 2.0
    """,
)



def _q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB shape-preserving downsampling to 50 points/series via
    applyInPandas (grouped map). The interior selection is SEQUENTIAL
    (each bucket's pick depends on the previous pick), which kept this
    rows-only through r7 — but sequential is not non-relational: the
    pick chain is a linear recursion over 48 interior buckets, and every
    quantity in it is exact integer algebra (µs x, HALF_UP-cents y,
    doubled-triangle areas as HUGEINT cross products with the next
    bucket's centroid multiplied through by its size), so a RECURSIVE
    CTE restates it with zero float divergence risk (promoted in r8).
    The pinned pure-Python reference
    (tests/reference_sim.py::lttb_reference) independently asserts EXACT
    row equality per series on this very query (tests/test_round6.py) —
    the SQL oracle and the CI reference now pin the operator from two
    directions."""
    from hbase_taggregator_spark.operators.timeseries import lttb_downsample

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return lttb_downsample(events, n_out=50).select(
        "event_type", "event_id", "ts_us", "value"
    )


def _lttb_sql(n_out: int = 50) -> str:
    """LTTB restated as a recursive CTE. Shape: pts = per-series ordered
    points with 1-based rank; bounds/nsum precompute each interior
    bucket's range and its NEXT-anchor centroid sums (the last bucket's
    next anchor is the final point); sel walks the recursion — the
    anchor row of step b+1 is step b's pick, the argmax is a correlated
    ORDER BY area DESC, rn LIMIT 1 (strict > keeps the earliest point,
    exactly the operator's tie rule). DuckDB SUM(BIGINT) is HUGEINT, and
    the cross products are forced through HUGEINT before multiplying by
    the cents delta (ax·m ~ 1e18 times 1e5 cents overflows int64; the
    Python sides use arbitrary-precision ints). Series with n <= n_out
    pass through whole, like the operator."""
    nb = n_out - 2
    return f"""
    WITH RECURSIVE
    pts AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cy,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY epoch_us(ts), event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}),
    big AS (SELECT DISTINCT event_type, n FROM pts WHERE n > {n_out}),
    bounds AS (
      SELECT big.event_type, big.n, b.b,
             2 + ((big.n - 2) * b.b) // {nb} AS lo,
             2 + ((big.n - 2) * (b.b + 1)) // {nb} AS hi
      FROM big, (SELECT unnest(range(0, {nb})) AS b) b),
    nsum AS (
      SELECT bo.event_type, bo.b, COUNT(*) AS m,
             SUM(p.ts_us) AS csx, SUM(p.cy) AS csy
      FROM bounds bo JOIN pts p ON p.event_type = bo.event_type
       AND p.rn >= CASE WHEN bo.b < {nb - 1}
                        THEN 2 + ((bo.n - 2) * (bo.b + 1)) // {nb}
                        ELSE bo.n END
       AND p.rn <  CASE WHEN bo.b < {nb - 1}
                        THEN 2 + ((bo.n - 2) * (bo.b + 2)) // {nb}
                        ELSE bo.n + 1 END
      GROUP BY 1, 2),
    sel AS (
      SELECT event_type, -1 AS b, CAST(1 AS BIGINT) AS rn FROM big
      UNION ALL
      SELECT s.event_type, s.b + 1,
             (SELECT p.rn
              FROM pts p, bounds bo, nsum ns, pts a
              WHERE bo.event_type = s.event_type AND bo.b = s.b + 1
                AND ns.event_type = s.event_type AND ns.b = s.b + 1
                AND a.event_type = s.event_type AND a.rn = s.rn
                AND p.event_type = s.event_type
                AND p.rn >= bo.lo AND p.rn < bo.hi
              ORDER BY abs((CAST(a.ts_us AS HUGEINT) * ns.m - ns.csx)
                             * (p.cy - a.cy)
                           - (a.ts_us - p.ts_us)
                             * (ns.csy - CAST(a.cy AS HUGEINT) * ns.m)) DESC,
                       p.rn ASC
              LIMIT 1)
      FROM sel s WHERE s.b + 1 < {nb})
    SELECT p.event_type, p.event_id, p.ts_us, p.value
    FROM (SELECT event_type, rn FROM sel
          UNION ALL SELECT event_type, n FROM big
          UNION ALL SELECT event_type, rn FROM pts WHERE n <= {n_out}) k
    JOIN pts p ON p.event_type = k.event_type AND p.rn = k.rn
    """


_register("ts_lttb_downsample_50", _q_lttb, _lttb_sql())



def _q_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: hourly rollups of two DISJOINT
    half-week slices merged by partial-state algebra, then re-aggregated
    daily — bit-identical to a raw daily scan of the whole week (the
    oracle), proving state mergeability without history rescans."""
    from hbase_taggregator_spark.operators.timeseries import (
        continuous_rollup,
        merge_rollups,
        read_rollup,
    )

    t_mid = T0 + 84 * 3600  # 3.5 days — hour-aligned split
    ev1 = load_table(spark, sf_dir, "events", time_range=(T0 * US, t_mid * US))
    ev2 = load_table(spark, sf_dir, "events", time_range=(t_mid * US, T_WEEK * US))
    fine1, _ = continuous_rollup(ev1, T0, t_mid, 3600, 3600)
    fine2, _ = continuous_rollup(ev2, t_mid, T_WEEK, 3600, 3600)
    merged = merge_rollups([fine1, fine2])
    return read_rollup(merged, T0, 86400).select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "max_value", "min_value", "sum_value", "count_value",
    )


_register(
    "ts_rollup_incremental_merge",
    _q_rollup_merge,
    f"""
    SELECT {{bucket}} AS bucket_ms,
           MAX(value) AS max_value, MIN(value) AS min_value,
           {{dsum}} AS sum_value, COUNT(value) AS count_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """.format(bucket=_bucket_sql(T0, 86400), dsum=_sql_dsum("value")),
)


def _q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshape round-trip: daily counts pivoted WIDE by event type, then
    unpivoted back to long (nulls dropped) — Spark's unpivot/melt API; the
    oracle is the long form computed directly."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    day_us = 86400 * US
    wide = (
        events.withColumn(
            "day_ms",
            F.expr(f"({T0 * US} + ((unix_micros(ts) - {T0 * US}) div {day_us})"
                   f" * {day_us}) div 1000"),
        )
        .groupBy("day_ms")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    return (
        wide.unpivot(
            ["day_ms"],
            ["click", "view", "purchase", "signup", "error"],
            "event_type",
            "n_events",
        )
        .filter(F.col("n_events").isNotNull())
        .select("day_ms", "event_type", F.col("n_events").cast("long").alias("n_events"))
    )


_register(
    "reshape_pivot_unpivot_roundtrip",
    _q_unpivot,
    f"""
    SELECT {_bucket_sql(T0, 86400)} AS day_ms, event_type,
           COUNT(*) AS n_events
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
      AND event_type IN ('click', 'view', 'purchase', 'signup', 'error')
    GROUP BY 1, 2
    """,
)


def _q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height decile binning per series (ntile with deterministic
    tiebreak) — the feature-binning prep op."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_type", "event_id", "value",
        F.ntile(10).over(w).alias("decile"),
    )


_register(
    "feature_quantile_bins_decile",
    _q_quantile_bins,
    f"""
    SELECT event_type, event_id, value,
           CAST(NTILE(10) OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS INT) AS decile
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    """,
)


def _q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each series at its exact interpolated p05/p95
    (the outlier-capping prep op); percentile bounds broadcast back."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    bounds = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    return (
        events.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type", "event_id",
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
            .alias("clipped"),
        )
    )


_register(
    "feature_winsorize_p05_p95",
    _q_winsorize,
    f"""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
      GROUP BY 1)
    SELECT e.event_type, e.event_id,
           least(greatest(e.value, b.p05), b.p95) AS clipped
    FROM events e JOIN b USING (event_type)
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    """,
)



def _q_calendar_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-grain rollup (ISO week via date_trunc — Monday start, UTC
    pinned by session.configure) — the variable-width bucket family the
    fixed-interval engine core cannot express."""
    from hbase_taggregator_spark.queries import T_MONTH

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_MONTH * US))
    wk = F.date_trunc("week", F.col("ts"))
    return (
        events.groupBy(F.unix_millis(wk).alias("week_start_ms"))
        .agg(
            F.count("value").alias("n_events"),
            _dsum("value", "sum_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("week_start_ms")
    )


def _calendar_weekly_sql() -> str:
    from hbase_taggregator_spark.queries import T_MONTH

    return f"""
    SELECT CAST(epoch_ms(date_trunc('week', ts)) AS BIGINT) AS week_start_ms,
           COUNT(value) AS n_events,
           {_sql_dsum('value')} AS sum_value,
           MAX(value) AS max_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_MONTH * US}
    GROUP BY 1
    """


_register("ts_calendar_rollup_weekly", _q_calendar_weekly, _calendar_weekly_sql())


# ---------------------------------------------------------------------------
# inverted index: vocabulary, posting lists, conjunctive search
# ---------------------------------------------------------------------------


def _q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with deterministic term_id (df DESC, term ASC) —
    the term→id mapping of a tokenizer/feature pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return X.vocabulary(docs, min_df=2)


_register(
    "text_vocabulary",
    _q_vocabulary,
    f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    pd AS (SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    s AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                 CAST(SUM(tf) AS BIGINT) AS total_tf
          FROM pd GROUP BY 1 HAVING COUNT(*) >= 2)
    SELECT ROW_NUMBER() OVER (ORDER BY df DESC, term) AS term_id,
           term, df, total_tf
    FROM s
    """,
)


def _q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index build: per-term sorted (doc_id:tf) posting string."""
    docs = load_table(spark, sf_dir, "documents")
    return X.posting_lists(docs, min_df=2)


_register(
    "text_posting_lists",
    _q_posting_lists,
    f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    pd AS (SELECT term, doc_id AS d, COUNT(*) AS tf FROM t GROUP BY 1, 2)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           string_agg(d || ':' || tf, ',' ORDER BY d) AS postings
    FROM pd GROUP BY term HAVING COUNT(*) >= 2
    """,
)


def _q_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-query over the inverted index: docs containing every query term
    (same fixed term set as the BM25 gate)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.conjunctive_search(docs, list(_BM25_TERMS))


_register(
    "text_conjunctive_search",
    _q_conjunctive,
    f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    h AS (SELECT doc_id, term FROM t
          WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)}))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS total_tf
    FROM h GROUP BY doc_id HAVING COUNT(DISTINCT term) = {len(_BM25_TERMS)}
    """,
)
# ---------------------------------------------------------------------------
# Driver gate window (rotated per round): the driver records CORRECTNESS
# rows for the FIRST 50 catalog entries. r16 priority (an optimization
# round — no new queries): every query whose implementation changed
# this round — the two-level family + the binary recall gate riding the
# two-phase double/decimal top-k (ivf_assign_two_level), the five
# persisted-index gates covering the write_ivf_index sidecar-overlap
# and two-level single-collect seams, and the residual/OPQ gates
# covering the _materialize_means_and_residual_books validation seam —
# all output-identical by construction and oracle-verified in this
# round's full-catalog log, but re-gated per the standing rule. Then
# the EIGHT r10 leftovers that headed the rotation queue
# (semi_anti_customer_orders … similarity_cosine_topk), then the R11
# BLOCK (CORRECTNESS_r11 keys not re-gated since, in that file's
# order, minus the two already in the changed set); 29 of its 48 fit
# this window — the remaining nineteen (streaming_static_join_segments,
# streaming_stream_join_pairs, q8_market_share, q11_important_stock,
# q12_shipmode_priority, q15_top_supplier, q20_potential_promotions,
# multimodal_decode_headers, dedup_exact_survivor_rows,
# dedup_jaccard_df_capped, ts_rollup_hourly_to_daily,
# streaming_dedup_within_watermark, ts_time_weighted_avg_21600,
# ts_counter_rate_21600, merge_upsert_customers,
# text_top_terms_per_lang, layout_zorder_values,
# streaming_continuous_rollup, multimodal_frame_sample) head the r17
# queue, after which rotation moves to the r12 block. Every query
# pushed out is green in earlier CORRECTNESS rounds and this round's
# full-catalog oracle log (tools/oracle_full_r16.log).
# ---------------------------------------------------------------------------
_GATE_WINDOW = [
    # implementation changed this round (two-phase two-level top-k)
    "similarity_twolevel_assign",
    "similarity_twolevel_topk",
    "similarity_twolevel_recall_at_5",
    "similarity_kmeans_twolevel_refine",
    "similarity_ivf_binary_recall_at_5",
    # implementation changed this round (index build sidecar overlap +
    # shared-collect fold + residual-init validation)
    "similarity_ivf_indexed_recall_at_5",
    "similarity_ivf_binary_indexed_recall_at_5",
    "similarity_ivf_pq_indexed_recall_at_5",
    "similarity_ivf_pq_residual_indexed_recall_at_5",
    "embedding_binary_incremental_admitted",
    "similarity_ivf_pq_recall_floor",
    "similarity_ivf_pq_residual_recall_at_5",
    "similarity_opq_lowrank_gain",
    # the eight r10 leftovers (head of the standing rotation queue)
    "semi_anti_customer_orders",
    "distinct_counts_lineitem",
    "multiversion_latest_2_per_user",
    "asof_purchase_to_click",
    "text_language_id",
    "text_fingerprint_tokens",
    "dedup_exact",
    "similarity_cosine_topk",
    # the r11 block (standing rotation queue): oldest latest-gating
    "similarity_binary_banded_radius15",
    "similarity_binary_banded_dup_top1",
    "embedding_binary_dedup_survivors",
    "similarity_binary_hamming_recall_at_5",
    "embedding_binary_quantize_words",
    "embedding_random_projection_checksums",
    "similarity_neardup_pairs",
    "similarity_ann_lsh_topk",
    "streaming_ts_count_max_3600",
    "streaming_stateful_running_extrema",
    "pivot_event_type_daily",
    "scalar_functions_showcase",
    "date_functions_orders",
    "correlated_above_avg_balance",
    "argmax_event_per_type",
    "asof_nearest_click",
    "corpus_dedup_repeated_substrings",
    "ts_resample_interpolate_7200",
    "corpus_pipeline_stats",
    "percentiles_per_event_type",
    "stats_moments_per_type",
    "ts_ewma_smoothed_3600",
    "streaming_dedup_exact",
    "q2_min_cost_supplier",
    "funnel_click_to_purchase_1h",
    "interval_overlap_regimes_sessions",
    "histogram_value_25",
    "q4_order_priority",
    "q13_customer_distribution",
]


def _apply_gate_window(strict: bool = True) -> None:
    from hbase_taggregator_spark import queries as _q

    missing = [n for n in _GATE_WINDOW if n not in _q.QUERIES]
    if missing and not strict:
        # mid-circular-import (someone imported queries_r3/_r4 directly):
        # some registrations haven't run yet — queries_r4's own end-of-
        # module strict call re-applies once everything is registered
        return
    assert not missing, f"gate window names drifted: {missing}"
    for reg in (_q.QUERIES, _q.ORACLES):
        ordered = {n: reg[n] for n in _GATE_WINDOW if n in reg}
        ordered.update({n: v for n, v in reg.items() if n not in ordered})
        reg.clear()
        reg.update(ordered)


# later-round queries must register before the window is applied (many
# hold gate slots); ordering: r3, then r4, then the (tolerant) apply —
# queries_r4's end-of-module strict apply is the final authority
import hbase_taggregator_spark.queries_r3  # noqa: E402,F401
import hbase_taggregator_spark.queries_r4  # noqa: E402,F401
import hbase_taggregator_spark.queries_r5  # noqa: E402,F401
import hbase_taggregator_spark.queries_r6  # noqa: E402,F401
import hbase_taggregator_spark.queries_r7  # noqa: E402,F401
import hbase_taggregator_spark.queries_r8  # noqa: E402,F401
import hbase_taggregator_spark.queries_r9  # noqa: E402,F401
import hbase_taggregator_spark.queries_r10  # noqa: E402,F401
import hbase_taggregator_spark.queries_r11  # noqa: E402,F401
import hbase_taggregator_spark.queries_r12  # noqa: E402,F401
import hbase_taggregator_spark.queries_r13  # noqa: E402,F401
import hbase_taggregator_spark.queries_r14  # noqa: E402,F401
import hbase_taggregator_spark.queries_r15  # noqa: E402,F401

_apply_gate_window(strict=False)
