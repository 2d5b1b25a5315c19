"""§2.11 multimodal query pairs over ``documents``: opaque binary
payloads + typed metadata (the engine-side realization of the
reference's raw ``byte[]`` cell model, HBaseScheme.java:101-102),
processed by Arrow-batched ``mapInPandas`` or pure-JVM expressions.

The payload is deterministic (md5-derived, ``attach_payload``), so the
DuckDB oracle reproduces the *bytes* bit-for-bit by decoding the same
md5 hex — the feature UDF is a checked algorithm, not a rows-only stub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cascading_hbase_spark.catalog import load_table
from cascading_hbase_spark.functions import multimodal as M
from cascading_hbase_spark.queries import query

# DuckDB fragments reproducing attach_payload()'s derivations.
_K = "(1 + doc_id % 3)"  # md5 repeat count -> payload byte length / 16
_MODALITY = "list_extract(['image', 'audio', 'video'], CAST(doc_id % 3 + 1 AS INTEGER))"
# payload bytes = unhex(repeat(md5(text), k)); stats over the repeat
# equal stats over one 16-byte md5 block.
_BYTES16 = (
    "list_transform(generate_series(1, 16), "
    "i -> CAST(('0x' || substring(md5(text), 2 * i - 1, 2)) AS INTEGER))"
)


def _payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return M.attach_payload(d, "doc_id", "text")


@query(
    "multimodal_image_features",
    oracle=f"""
    WITH b AS (SELECT doc_id, {_BYTES16} AS bytes FROM documents)
    SELECT doc_id,
           CAST(16 * {_K} AS INTEGER) AS n_bytes,
           round(CAST(list_sum(bytes) AS DOUBLE) / 16.0, 6) AS mean_byte,
           CAST(list_min(bytes) AS INTEGER) AS min_byte,
           CAST(list_max(bytes) AS INTEGER) AS max_byte
    FROM b
    """,
    bench=True,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched ``mapInPandas`` byte-feature extraction over binary
    payloads (the stubbed decode path; schema/batching are real)."""
    return M.image_features(_payload(spark, sf_dir), "doc_id")


@query(
    "multimodal_resize_plan",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, {_MODALITY} AS modality,
             CAST(64 + (doc_id % 8) * 32 AS INTEGER) AS width,
             CAST(64 + (doc_id % 5) * 32 AS INTEGER) AS height
      FROM documents
    )
    SELECT doc_id, modality, width, height,
           round(224.0 / greatest(width, height), 6) AS scale,
           CAST(round(width * 224.0 / greatest(width, height)) AS INTEGER) AS out_w,
           CAST(round(height * 224.0 / greatest(width, height)) AS INTEGER) AS out_h
    FROM m
    """,
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side resize bookkeeping from typed metadata (no Python)."""
    return M.resize_plan(_payload(spark, sf_dir), "doc_id", target=224)


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH v AS (
      SELECT doc_id, CAST(8 + doc_id % 24 AS INTEGER) AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT doc_id, n_frames,
           CAST(unnest(generate_series(0, n_frames - 1, 4)) AS INTEGER) AS frame_idx
    FROM v
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N video frame sampling as a pure-JVM explode over a generated
    index sequence."""
    return M.frame_sample(_payload(spark, sf_dir), "doc_id", stride=4)


@query(
    "multimodal_frame_slices",
    oracle=f"""
    WITH v AS (
      SELECT doc_id,
             upper(repeat(md5(text), {_K})) AS payload_hex,
             CAST(8 + doc_id % 24 AS INTEGER) AS n_frames,
             CAST(16 * {_K} AS INTEGER) AS n_bytes
      FROM documents WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT doc_id, payload_hex, n_bytes,
             greatest(1, n_bytes // n_frames) AS frame_bytes,
             CAST(unnest(generate_series(0, n_frames - 1, 4)) AS INTEGER) AS frame_idx
      FROM v
    )
    SELECT doc_id, frame_idx, CAST(frame_bytes AS INTEGER) AS frame_bytes,
           substring(payload_hex, 1 + frame_idx * frame_bytes * 2, frame_bytes * 2)
             AS frame_hex
    FROM f WHERE (frame_idx + 1) * frame_bytes <= n_bytes
    """,
)
def multimodal_frame_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling with the frame's actual bytes: JVM binary
    substring per sampled index (1→N explode, Python never sees the
    payload); oracle slices the identical md5-derived hex."""
    return M.frame_slices(_payload(spark, sf_dir), "doc_id", stride=4)


@query(
    "multimodal_audio_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(16 * {_K} AS INTEGER) AS n_samples,
           round(CAST(16 * {_K} AS DOUBLE) / 16000.0, 6) AS duration_sec
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio duration/sample stats from payload length + metadata."""
    return M.audio_stats(_payload(spark, sf_dir), "doc_id")
