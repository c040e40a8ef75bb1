"""Frame-sampling plan over multimodal binary payloads (SURVEY.md
§2B north star; sibling of plans/multimodal.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from target_iceberg_spark.operators.multimodal import attach_payload
from target_iceberg_spark.plans.registry import register
from target_iceberg_spark.sources.tables import load_table


FRAME_BYTES = 64
FRAME_STRIDE = 2  # sample every 2nd frame


@register(
    "multimodal_framesample",
    oracle=f"""
WITH v AS (
    SELECT doc_id, text AS payload,
           CAST(FLOOR(len(text) / {FRAME_BYTES}) AS BIGINT) AS n_frames
    FROM documents
),
fr AS (
    SELECT doc_id, n_frames, unnest(range(0, n_frames, {FRAME_STRIDE})) AS frame_idx
    FROM v WHERE n_frames >= 1
)
SELECT f.doc_id,
       CAST(f.frame_idx AS INT) AS frame_idx,
       md5(substr(v.payload, CAST(f.frame_idx * {FRAME_BYTES} + 1 AS INT), {FRAME_BYTES})) AS frame_hash,
       {FRAME_BYTES} AS frame_bytes
FROM fr f JOIN v ON v.doc_id = f.doc_id
""",
    tags=("multimodal", "framesample"),
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque binary payload: treat the payload
    as a fixed-frame container and extract every FRAME_STRIDE-th frame
    as its own row. Implemented entirely with built-in byte slicing
    (sequence -> posexplode -> substring on BinaryType), i.e. the 1->N
    frame expansion runs inside whole-stage codegen — the Python
    mapInPandas tier (operators/multimodal.py) is only needed when an
    actual codec must parse the container. The test payload is ASCII
    text bytes, so the DuckDB oracle slices the same bytes as VARCHAR
    and the per-frame md5 hashes match bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    v = attach_payload(docs.select("doc_id", "text"))
    n_frames = F.floor(F.octet_length("payload") / FRAME_BYTES)
    idx = F.when(
        n_frames >= 1,
        F.sequence(F.lit(0), n_frames - 1, F.lit(FRAME_STRIDE)),
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        v.select("doc_id", "payload", F.explode(idx).alias("frame_idx"))
        .select(
            "doc_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.md5(
                F.expr(f"substring(payload, CAST(frame_idx * {FRAME_BYTES} + 1 AS INT), {FRAME_BYTES})")
            ).alias("frame_hash"),
            F.lit(FRAME_BYTES).alias("frame_bytes"),
        )
    )


@register(
    "multimodal_resize",
    # the fake resize is stride-2 byte decimation, so the Python
    # mapInPandas stage is SQL-mirrored character-for-character: the
    # oracle rebuilds the decimated string and matches size, md5 and
    # the integer pixel-sum feature bit-exactly
    oracle="""
WITH r AS (
    SELECT doc_id, length(text) AS orig_bytes,
           array_to_string(list_transform(
               range(1, length(text) + 1, 2),
               i -> substr(text, i, 1)), '') AS resized
    FROM documents
)
SELECT doc_id,
       CAST(orig_bytes AS INT) AS orig_bytes,
       CAST(length(resized) AS INT) AS resized_bytes,
       md5(resized) AS resized_md5,
       CAST(COALESCE(list_sum(list_transform(
           range(1, length(resized) + 1),
           i -> ascii(substr(resized, i, 1)))), 0) AS BIGINT) AS pix_sum
FROM r
""",
    tags=("multimodal", "resize"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage over opaque binary payloads — the third leg of the
    decode / resize / frame-sample multimodal plumbing. Arrow-batched
    mapInPandas applies a deterministic fake downscale (stride-2 byte
    decimation standing in for an interpolating image resize; real
    codec stubbed, operators/multimodal.py) and emits only digests
    (size, md5, integer pixel sum) — resized bytes never cross to the
    driver. Scale shape: one Python worker per partition, batch size
    bounded by Arrow maxRecordsPerBatch, no shuffle at all; the stage
    pipelines directly over the scan like a real media-preprocessing
    pass."""
    docs = load_table(spark, sf_dir, "documents")
    from target_iceberg_spark.operators.multimodal import resize_pipeline

    return resize_pipeline(attach_payload(docs.select("doc_id", "text")))
