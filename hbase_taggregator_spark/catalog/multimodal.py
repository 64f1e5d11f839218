"""Multimodal catalog: binary payloads through the Arrow / mapInPandas
plumbing — byte features, image header and pixel decode, video frame
sampling.

Payloads are synthesized deterministically from the tables, so each oracle
recomputes the same values from the source columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.catalog.registry import _register
from hbase_taggregator_spark.operators.multimodal import (
    decode_image,
    decode_pixels,
    extract_binary_features,
    sample_frames,
    synth_image_payload,
    synth_png_images,
    synth_video_payload,
    with_binary_payload,
)
from hbase_taggregator_spark.sources.parquet import load_table


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


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata decode over binary payloads: deterministic REAL
    PNG/GIF/BMP header bytes are synthesized per doc_id from JVM
    expressions (operators.multimodal.synth_image_payload), then parsed
    back by the pure-Python header decoder through the Arrow mapInPandas
    boundary. The oracle recomputes the expected (fmt, width, height)
    arithmetically — so any byte-layout or parsing error on either side of
    the round-trip breaks the hash."""

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


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over the Arrow boundary: synthetic byte-real
    containers demuxed by actual header parsing + offset math; every-2nd
    frame fingerprinted. The oracle regenerates the same frames from the
    construction algebra — a parsing bug cannot hash-match."""

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


def _q_decode_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return decode_pixels(synth_png_images(docs)).orderBy("doc_id")


_register(
    "multimodal_decode_pixels",
    _q_decode_pixels,
    """
    WITH docs AS (
        SELECT doc_id, 8 + doc_id % 16 AS w, 4 + doc_id % 12 AS h
        FROM documents WHERE doc_id % 10 = 0
    ), px AS (
        SELECT d.doc_id, d.w, d.h, yy.y, xx.x,
               (d.doc_id * 7 + yy.y * 31 + xx.x * 13) % 256 AS p
        FROM docs d,
             LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) yy,
             LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xx
    )
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(p) AS BIGINT) AS pixel_sum,
           CAST(SUM((y * w + x + 1) * p) AS BIGINT) AS pixel_checksum
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
