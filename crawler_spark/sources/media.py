"""Synthetic multimodal media generator — opaque binary columns.

Large-scale training pipelines carry image/audio/video payloads as opaque
``binary`` columns with typed metadata alongside (the pattern the pages
table already uses for ``html``: reference fetches bytes,
/root/reference/src/warc/fetcher.py:34-100, and decoding happens in a
downstream stage). The real codecs (PIL / ffmpeg / soundfile) are not in
this container, so payloads use a deterministic FAKE container format that
the decode UDFs in :mod:`crawler_spark.operators.multimodal` genuinely
parse byte-by-byte — the Spark-side plumbing (schema, Arrow batching,
mapInPandas signatures, partitioning) is real and tested; only the codec
is substituted.

Fake container layouts (all big-endian):

- image:  ``b"FIMG" | u16 width | u16 height | u32 seed | payload``
          payload = 64 bytes, every byte ``seed % 251``
- audio:  ``b"FAUD" | u32 sample_rate | u32 duration_ms | u32 seed``
- video:  ``b"FVID" | u16 n_frames | u16 fps | u32 seed``

Every field is an arithmetic function of ``doc_id`` so the decode
round-trip is cross-checkable in pure SQL (DuckDB oracle) — the binary
goes through a real encode→shuffle→decode path and the result must equal
the closed-form expectation.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

IMG_MAGIC = b"FIMG"
AUD_MAGIC = b"FAUD"
VID_MAGIC = b"FVID"
IMG_PAYLOAD_LEN = 64

# Closed-form metadata functions of doc_id (mirrored in oracle SQL —
# crawler_spark/oracle/sqlgen.py keeps the same constants).
IMG_W = lambda i: 64 + (i * 7) % 448  # noqa: E731
IMG_H = lambda i: 64 + (i * 13) % 448  # noqa: E731
AUD_RATE = lambda i: 8000 + (i % 3) * 4000  # noqa: E731
AUD_MS = lambda i: 500 + (i * 37) % 9500  # noqa: E731
VID_FRAMES = lambda i: 8 + (i * 3) % 120  # noqa: E731
VID_FPS = lambda i: 24 + (i % 2) * 6  # noqa: E731


def encode_image(doc_id: int) -> bytes:
    w, h, seed = IMG_W(doc_id), IMG_H(doc_id), doc_id & 0xFFFFFFFF
    return (
        IMG_MAGIC
        + struct.pack(">HHI", w, h, seed)
        + bytes([seed % 251]) * IMG_PAYLOAD_LEN
    )


def encode_audio(doc_id: int) -> bytes:
    return AUD_MAGIC + struct.pack(
        ">III", AUD_RATE(doc_id), AUD_MS(doc_id), doc_id & 0xFFFFFFFF
    )


def encode_video(doc_id: int) -> bytes:
    return VID_MAGIC + struct.pack(
        ">HHI", VID_FRAMES(doc_id), VID_FPS(doc_id), doc_id & 0xFFFFFFFF
    )


MEDIA_TYPES = ("image", "audio", "video")


def media_from_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, ...) → media(doc_id, media_type, media binary).

    media_type cycles image/audio/video by doc_id; the binary payload is
    built JVM-side from closed-form expressions (no Python in the encode
    path) so generation scales with the scan.
    """
    i = F.col("doc_id").cast("long")
    seed_b = _be_bytes((i.bitwiseAND(F.lit(0xFFFFFFFF))), 4)
    img = F.concat(
        F.lit(IMG_MAGIC),
        _be_bytes(64 + (i * 7) % 448, 2),
        _be_bytes(64 + (i * 13) % 448, 2),
        seed_b,
        _repeat_byte(i % 251, IMG_PAYLOAD_LEN),
    )
    aud = F.concat(
        F.lit(AUD_MAGIC),
        _be_bytes(8000 + (i % 3) * 4000, 4),
        _be_bytes(500 + (i * 37) % 9500, 4),
        seed_b,
    )
    vid = F.concat(
        F.lit(VID_MAGIC),
        _be_bytes(8 + (i * 3) % 120, 2),
        _be_bytes(24 + (i % 2) * 6, 2),
        seed_b,
    )
    mt = F.element_at(F.array(*[F.lit(t) for t in MEDIA_TYPES]), (i % 3 + 1).cast("int"))
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        F.when(mt == "image", img).when(mt == "audio", aud).otherwise(vid).alias("media"),
    )


def _be_bytes(col, n: int):
    """Integer column → n big-endian bytes (JVM-side, no UDF).

    hex→lpad→unhex is byte-exact for the full 0x00-0xFF range (chr-based
    concat is not: codepoints ≥0x80 would UTF-8-encode to two bytes).
    """
    return F.unhex(F.lpad(F.hex(col.cast("long")), n * 2, "0"))


def _repeat_byte(col, n: int):
    return F.unhex(F.repeat(F.lpad(F.hex(col.cast("long")), 2, "0"), n))


def generate_media(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    ids = spark.range(0, n, numPartitions=partitions).select(F.col("id").alias("doc_id"))
    return media_from_documents(ids)
