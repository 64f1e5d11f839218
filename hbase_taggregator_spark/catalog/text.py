"""Text and dedup catalog: the training-data pipeline over ``documents``.

Tokenization, quality and repetition features, the inverted index, corpus
splits, mixing and sampling, and exact, n-gram, MinHash, SimHash and fuzzy
dedup. The Spark side hashes with md5 and scores in decimals
(``operators/text.py``, ``operators/dedup.py``), so every pipeline is
restated as portable DuckDB SQL, MinHash-LSH candidates and SimHash
signatures included. The SQL fragments below mirror the Spark-side
tokenization and shingling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from hbase_taggregator_spark.catalog.registry import _register
from hbase_taggregator_spark.operators import dedup as D, text as X
from hbase_taggregator_spark.operators.dedup import (
    contamination_overlap,
    decontaminate,
    duplicate_components,
    fuzzy_match_candidates,
    incremental_dedup,
    simhash_pairs,
)
from hbase_taggregator_spark.operators.sketch import count_min_lookup, count_min_sketch
from hbase_taggregator_spark.operators.text import (
    dedup_doc_segments,
    dedup_repeated_substrings,
    deterministic_sample,
    feature_hash_counts,
    global_shuffle,
    rare_bigram_ratio,
    rare_token_ratio,
    remove_boilerplate,
    source_mixing,
    token_count,
)
from hbase_taggregator_spark.sources.parquet import load_table
from hbase_taggregator_spark.util import local_df


# whitespace tokenization of lower-cased trimmed text (documents.text)
_SQL_TOKENS = r"string_split_regex(trim(lower(text)), '\s+')"

# distinct 3-gram word shingles over a `toks` list column
_SQL_SHINGLES3 = (
    r"list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),"
    r" i -> array_to_string(toks[i:i+2], ' ')))"
)

# distinct 5-gram word shingles over a `toks` list column
_SQL_SHINGLES5 = (
    r"list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4,"
    r" 0)), i -> array_to_string(toks[i:i+4], ' ')))"
)


def _simhash_sql() -> str:
    """SimHash restated relationally: unnest shingles × bit positions,
    ±1 votes, sign per bit, weighted bit sum."""
    shingles2 = (
        r"list_distinct(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),"
        r" i -> array_to_string(toks[i:i+1], ' ')))"
    )
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({shingles2}) AS s FROM t),
    h AS (SELECT doc_id,
                 CAST(concat('0x', substr(md5(concat('sh#', s)), 1, 8)) AS BIGINT) AS h0,
                 CAST(concat('0x', substr(md5(concat('sh#', s)), 9, 8)) AS BIGINT) AS h1
          FROM sh),
    votes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h0 >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v0,
             SUM(CASE WHEN (h1 >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v1
      FROM h, (SELECT unnest(generate_series(0, 31)) AS bit) b
      GROUP BY 1, 2),
    bits AS (
      -- outer CAST: DuckDB widens integer SUM to HUGEINT (int128), which the
      -- driver's type-tagged hasher serializes differently from int64
      SELECT doc_id,
             CAST(SUM(CASE WHEN v0 > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) +
                  SUM(CASE WHEN v1 > 0 AND bit < 31 THEN CAST(1 AS BIGINT) << (32 + bit) ELSE 0 END)
               AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id)
    SELECT doc_id, simhash,
           (simhash >> 0) & 65535 AS chunk0,
           (simhash >> 16) & 65535 AS chunk1,
           (simhash >> 32) & 65535 AS chunk2,
           (simhash >> 48) & 65535 AS chunk3
    FROM bits
    """


def _minhash_band_ctes(k: int = 16, bands: int = 4) -> str:
    """The shared MinHash CTE chain (t → sh → sig → bands) every LSH
    oracle builds on: Kirsch-Mitzenmacher double hashing, k min-hashes,
    comma-joined band keys — the algebra of
    operators/dedup.py::minhash_signatures + _band_rows."""
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
    t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES3} AS shingles FROM t),
    sig AS (SELECT doc_id, {mins} FROM sh WHERE len(shingles) > 0),
    bands AS ({band_rows})"""


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


#: GPT-2-ish pretokenizer, restricted to a dialect-neutral subset
_BPE_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pretokenization count (regexp_extract_all with a GPT-2-ish
    pattern over lowercased text) vs whitespace tokens."""
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), 0))

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


def _q_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the *best* duplicate (longest, then lowest id)
    instead of an arbitrary one — survivor selection is an argmax per
    fingerprint group, one shuffle on the 16-byte fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    fp = X.fingerprint(docs)
    nt = X.token_count("text")

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


_CMS_TERMS = ("spark", "table", "zebra")


def _q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates over corpus token occurrences
    (m=64 buckets forces real collisions — overcounts are part of the
    deterministic semantics and the oracle reproduces them)."""

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


def _q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return feature_hash_counts(docs, dim=64)


_register(
    "text_feature_hashing_64",
    _q_feature_hash,
    r"""
    WITH t AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CAST(concat('0x', substr(md5(concat('fh#', tok)), 1, 15)) AS BIGINT)
               % 64 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM t WHERE tok <> ''
    GROUP BY 1, 2
    """,
)


def _q_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return fuzzy_match_candidates(
        cust, "c_name", "c_custkey", prefix_len=16, max_dist=1
    )


_register(
    "fuzzy_customer_name_candidates",
    _q_fuzzy,
    """
    WITH b0 AS (
        SELECT c_custkey AS id, c_name AS name,
               substr(c_name, 1, 16) AS blk
        FROM customer
    ), ok AS (
        SELECT blk FROM b0 GROUP BY 1
        HAVING COUNT(*) BETWEEN 2 AND 1000
    ), b AS (
        SELECT b0.* FROM b0 JOIN ok USING (blk)
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
    FROM b a JOIN b b ON a.blk = b.blk AND a.id < b.id
    WHERE levenshtein(a.name, b.name) <= 1
    """,
)


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    corpus = docs.filter(F.col("doc_id") % 37 != 0)
    return contamination_overlap(corpus, bench, n_shingle=5)


_register(
    "corpus_contamination_overlap",
    _q_contamination,
    f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ), sh AS (
        SELECT doc_id, {_SQL_SHINGLES5} AS shingles FROM t
    ), bench AS (
        SELECT DISTINCT CAST(concat('0x', substr(md5(concat('ct#', s)), 1, 15))
                   AS BIGINT) AS h
        FROM (SELECT unnest(shingles) AS s FROM sh WHERE doc_id % 37 = 0)
    ), corp AS (
        SELECT doc_id, CAST(concat('0x', substr(md5(concat('ct#', s)), 1, 15))
                   AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
              WHERE doc_id % 37 <> 0)
    ), hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
        FROM corp WHERE h IN (SELECT h FROM bench) GROUP BY 1
    )
    SELECT sh.doc_id,
           CAST(len(shingles) AS BIGINT) AS n_shingles,
           COALESCE(n_contaminated, 0) AS n_contaminated,
           CASE WHEN len(shingles) > 0
                THEN CAST(COALESCE(n_contaminated, 0) AS DOUBLE)
                     / CAST(len(shingles) AS DOUBLE)
                ELSE 0.0 END AS contamination_ratio
    FROM sh LEFT JOIN hits ON sh.doc_id = hits.doc_id
    WHERE sh.doc_id % 37 <> 0
    """,
)


def _q_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return rare_token_ratio(docs, max_df=2)


_register(
    "text_rare_token_ratio",
    _q_rare_tokens,
    r"""
    WITH tk AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
    ), tk2 AS (
        SELECT * FROM tk WHERE tok <> ''
    ), dfq AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS dfc FROM tk2 GROUP BY 1
    ), totals AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM tk2 GROUP BY 1
    ), hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_rare
        FROM tk2 WHERE tok IN (SELECT tok FROM dfq WHERE dfc <= 2)
        GROUP BY 1
    )
    SELECT t.doc_id, n_tokens, COALESCE(n_rare, 0) AS n_rare,
           CAST(COALESCE(n_rare, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               AS rare_ratio
    FROM totals t LEFT JOIN hits ON t.doc_id = hits.doc_id
    """,
)


def _q_fuzzy_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 4 == 0
    )
    pairs = fuzzy_match_candidates(
        cust, "c_name", "c_custkey", prefix_len=16, max_dist=1
    )
    return duplicate_components(pairs).orderBy("node_id")


_register(
    "fuzzy_entity_resolution",
    _q_fuzzy_entities,
    """
    WITH RECURSIVE b0 AS (
        SELECT c_custkey AS id, c_name AS name,
               substr(c_name, 1, 16) AS blk
        FROM customer WHERE c_custkey % 4 = 0
    ), okb AS (
        SELECT blk FROM b0 GROUP BY 1
        HAVING COUNT(*) BETWEEN 2 AND 1000
    ), b AS (
        SELECT b0.* FROM b0 JOIN okb USING (blk)
    ), pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM b a JOIN b b ON a.blk = b.blk AND a.id < b.id
        WHERE levenshtein(a.name, b.name) <= 1
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), nodes AS (
        SELECT DISTINCT src AS id FROM edges
    ), reach(id, lbl) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl
    ), comp AS (
        SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id
    ), csize AS (
        SELECT component_id, CAST(COUNT(*) AS BIGINT) AS component_size
        FROM comp GROUP BY 1
    )
    SELECT id AS node_id, component_id, component_size
    FROM comp JOIN csize USING (component_id)
    """,
)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


_register(
    "dedup_simhash_pairs",
    _q_simhash_pairs,
    f"""
    WITH sig AS ({_simhash_sql()}),
    bands AS (
      SELECT doc_id, simhash, b.band_idx,
             CASE b.band_idx WHEN 0 THEN chunk0 WHEN 1 THEN chunk1
                             WHEN 2 THEN chunk2 ELSE chunk3 END AS band_key
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_idx) b),
    okb AS (
      SELECT band_idx, band_key FROM bands
      GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 1000),
    kept AS (SELECT bands.* FROM bands JOIN okb USING (band_idx, band_key))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM kept a JOIN kept b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination as an action: same benchmark split as
    corpus_contamination_overlap (doc_id % 37), ratio > 0.2 drops the
    document; survivors pass through unchanged."""

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    corpus = docs.filter(F.col("doc_id") % 37 != 0)
    return (
        decontaminate(corpus, bench, max_ratio=0.2, n_shingle=5)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


_register(
    "corpus_decontaminated",
    _q_decontaminate,
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES5} AS shingles FROM t),
    bench AS (
      SELECT DISTINCT CAST(concat('0x', substr(md5(concat('ct#', s)), 1, 15))
                 AS BIGINT) AS h
      FROM (SELECT unnest(shingles) AS s FROM sh WHERE doc_id % 37 = 0)),
    corp AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(concat('ct#', s)), 1, 15))
                 AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
            WHERE doc_id % 37 <> 0)),
    hits AS (
      SELECT doc_id, COUNT(*) AS n FROM corp
      WHERE h IN (SELECT h FROM bench) GROUP BY 1),
    doomed AS (
      SELECT sh.doc_id FROM sh LEFT JOIN hits USING (doc_id)
      WHERE sh.doc_id % 37 <> 0 AND len(shingles) > 0
        AND CAST(COALESCE(n, 0) AS DOUBLE) / CAST(len(shingles) AS DOUBLE)
            > 0.2)
    SELECT doc_id, source, lang FROM documents
    WHERE doc_id % 37 <> 0 AND doc_id NOT IN (SELECT doc_id FROM doomed)
    ORDER BY doc_id
    """,
)


def _q_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        deterministic_sample(docs, ["source"], k=5)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


_register(
    "corpus_sample_per_source",
    _q_sample_per_source,
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(concat('sample#', CAST(doc_id AS VARCHAR))),
                        doc_id) AS rn
      FROM documents) WHERE rn <= 5
    ORDER BY source, doc_id
    """,
)


def _q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        global_shuffle(docs, n_shards=8)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


_register(
    "corpus_global_shuffle",
    _q_global_shuffle,
    """
    WITH h AS (
      SELECT doc_id, md5(concat('shuf#', CAST(doc_id AS VARCHAR))) AS hh
      FROM documents),
    s AS (
      SELECT doc_id, hh,
             CAST(CAST(concat('0x', substr(hh, 1, 8)) AS BIGINT) % 8
                  AS INTEGER) AS shard
      FROM h)
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id)
                AS INTEGER) AS pos
    FROM s ORDER BY shard, pos
    """,
)


def _q_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit the ``doc_id % 5 == 0`` batch against the rest of the corpus:
    asymmetric banded MinHash (corpus never self-joins) + exact Jaccard
    verify at 0.4 on candidate pairs only."""

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return incremental_dedup(corpus, new, threshold=0.4).orderBy("doc_id")


_register(
    "dedup_incremental_admitted",
    _q_incremental,
    f"""
    WITH {_minhash_band_ctes()},
    cbands AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
    nbands AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
    okc AS (SELECT band_idx, band_key FROM cbands
            GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
      FROM nbands n
      JOIN okc USING (band_idx, band_key)
      JOIN cbands c USING (band_idx, band_key)),
    shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shx GROUP BY doc_id),
    inter AS (
      SELECT cand.new_id, cand.corpus_id, COUNT(*) AS n_common
      FROM cand JOIN shx a ON a.doc_id = cand.new_id
                JOIN shx b ON b.doc_id = cand.corpus_id AND b.s = a.s
      GROUP BY 1, 2),
    rej AS (
      SELECT DISTINCT new_id
      FROM inter JOIN sizes sn ON sn.doc_id = new_id
                 JOIN sizes sc ON sc.doc_id = corpus_id
      WHERE CAST(n_common AS DOUBLE) / (sn.n_sh + sc.n_sh - n_common)
            >= 0.4)
    SELECT doc_id FROM documents
    WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT new_id FROM rej)
    ORDER BY doc_id
    """,
)


def _q_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language budgets for a 300-document draw at temperature
    alpha = 0.5 (sqrt flattening — IEEE-correctly-rounded, so the oracle
    hash-matches; the `lang` grouping has real size spread where
    `source` is uniform by construction)."""

    docs = load_table(spark, sf_dir, "documents")
    return source_mixing(docs, budget=300, group_col="lang", alpha=0.5)


_register(
    "corpus_source_mixing",
    _q_source_mixing,
    """
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang),
    weighted AS (
      SELECT lang, n_docs,
             CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(28,12)) AS w
      FROM counts),
    tot AS (SELECT SUM(w) AS tw FROM weighted),
    alloc AS (
      SELECT lang, n_docs, CAST(w AS DOUBLE) AS weight,
             300.0 * (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)) AS raw
      FROM weighted, tot),
    a2 AS (
      SELECT lang, n_docs, weight,
             LEAST(n_docs, CAST(FLOOR(raw) AS BIGINT)) AS t0,
             raw - FLOOR(raw) AS frac,
             CASE WHEN CAST(FLOOR(raw) AS BIGINT) < n_docs
                  THEN 1 ELSE 0 END AS unc
      FROM alloc),
    tots AS (SELECT SUM(t0) AS st, SUM(unc) AS nu FROM a2),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY unc DESC, frac DESC, lang ASC)
               AS r
      FROM a2)
    SELECT lang, n_docs, weight,
           CAST(t0 + CASE WHEN unc = 1
                           AND r <= LEAST(GREATEST(300 - st, 0), nu)
                          THEN 1 ELSE 0 END AS BIGINT) AS target_n
    FROM rk, tots
    ORDER BY lang
    """,
)


def _q_rare_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return rare_bigram_ratio(docs, max_freq=2).orderBy("doc_id")


_register(
    "text_rare_bigram_ratio",
    _q_rare_bigram,
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(toks) - 1, 0)),
        i -> array_to_string(toks[i:i+1], ' '))) AS bg
      FROM t),
    freq AS (SELECT bg, COUNT(*) AS f FROM bg GROUP BY bg)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN f <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           CAST(SUM(CASE WHEN f <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS rare_ratio
    FROM bg JOIN freq USING (bg)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)


def _q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip segments (token-granularity on the single-line synthetic
    corpus — delimiter ' ') present in >= 90% of documents; real corpora
    run this with the default newline delimiter. min_docs derives from
    the corpus size so the query scales; the oracle derives the identical
    threshold from COUNT(*)."""

    docs = load_table(spark, sf_dir, "documents")
    min_docs = (9 * docs.count()) // 10
    return remove_boilerplate(
        docs, min_docs=min_docs, delimiter=" "
    ).orderBy("doc_id")


_register(
    "corpus_clean_boilerplate",
    _q_boilerplate,
    """
    WITH md AS (SELECT (9 * COUNT(*)) // 10 AS min_docs FROM documents),
    segs AS (
      SELECT doc_id, i - 1 AS pos, s[i] AS seg
      FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
           (SELECT unnest(generate_series(1, (
              SELECT MAX(len(string_split(text, ' '))) FROM documents))) AS i)
      WHERE i <= len(s)),
    boiler AS (
      SELECT seg FROM segs
      GROUP BY seg
      HAVING COUNT(DISTINCT doc_id) >= (SELECT min_docs FROM md)),
    flagged AS (
      SELECT segs.*, (b.seg IS NOT NULL) AS is_b
      FROM segs LEFT JOIN boiler b USING (seg))
    SELECT doc_id,
           COALESCE(string_agg(seg, ' ' ORDER BY pos)
                    FILTER (WHERE NOT is_b), '') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)


def _q_doc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeat removal at token granularity (the synthetic
    corpus is single-line; real corpora use the newline default). Pure
    map-side — the plan audit pins zero exchanges before the ORDER BY."""

    docs = load_table(spark, sf_dir, "documents")
    return dedup_doc_segments(docs, delimiter=" ").orderBy("doc_id")


_register(
    "corpus_dedup_doc_segments",
    _q_doc_segments,
    """
    WITH s AS (SELECT doc_id, string_split(text, ' ') AS segs FROM documents),
    k AS (
      SELECT doc_id, segs,
             list_filter(list_zip(segs, generate_series(1, len(segs))),
                         e -> list_position(segs, e[1]) = e[2]) AS kept
      FROM s)
    SELECT doc_id,
           array_to_string(list_transform(kept, e -> e[1]), ' ') AS clean_text,
           CAST(len(segs) AS BIGINT) AS n_segments,
           CAST(len(segs) - len(kept) AS BIGINT) AS n_removed
    FROM k
    ORDER BY doc_id
    """,
)


#: k-gram window for the repeated-substring gate query — 8 so the
#: fixture documents (tens of tokens) actually contain duplicated
#: windows; the paper setting is 50 (see the operator docstring)
SUBSTR_K = 8


def _q_dedup_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al cross-document repeated-substring removal over the
    documents table (arXiv:2107.06499 re-expressed relationally): every
    duplicated k-token window loses all occurrences except the globally
    first; output is the cleaned normalized text with removal counts.
    The oracle restates the FULL algebra — positional gram explode,
    md5 fingerprints, lexicographic first-occurrence, cover rule,
    ordered rejoin."""

    docs = load_table(spark, sf_dir, "documents")
    return dedup_repeated_substrings(docs, k=SUBSTR_K).orderBy("doc_id")


_register(
    "corpus_dedup_repeated_substrings",
    _q_dedup_repeated_substrings,
    rf"""
    WITH t AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\s+') AS tk
               FROM documents),
    occ AS (SELECT doc_id, unnest(range(1, len(tk) - {SUBSTR_K} + 2)) AS p, tk
            FROM t WHERE len(tk) >= {SUBSTR_K}),
    g AS (SELECT doc_id, p,
                 md5(array_to_string(tk[p:p+{SUBSTR_K - 1}], ' ')) AS fp
          FROM occ),
    st AS (SELECT fp, count(*) AS c, min({{'d': doc_id, 'p': p}}) AS f
           FROM g GROUP BY fp),
    dup AS (
      SELECT g.doc_id, g.p FROM g JOIN st USING (fp)
      WHERE st.c >= 2 AND NOT (g.doc_id = st.f.d AND g.p = st.f.p)),
    tok AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS q, tk FROM t),
    kept AS (
      SELECT tok.doc_id, tok.tk[tok.q] AS tkn, tok.q FROM tok
      WHERE NOT EXISTS (SELECT 1 FROM dup d
                        WHERE d.doc_id = tok.doc_id
                          AND d.p BETWEEN tok.q - {SUBSTR_K - 1} AND tok.q)),
    agg AS (SELECT doc_id, string_agg(tkn, ' ' ORDER BY q) AS text_clean,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id, COALESCE(agg.text_clean, '') AS text_clean,
           len(t.tk) AS n_tokens,
           len(t.tk) - COALESCE(agg.n_kept, 0) AS n_removed
    FROM t LEFT JOIN agg USING (doc_id)
    ORDER BY t.doc_id
    """,
)
