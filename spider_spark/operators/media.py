"""Multimodal column plumbing: images/audio/video as opaque binary.

The reference only carries image URLs (``items.py:25-26`` images /
floor_plan_images); a 100 TB training-data pipeline additionally stores
the fetched bytes. Model:

* media rows: ``(media_ref string, content binary, media_type string,
  meta map<string,string>)`` — binary is opaque to Spark; typed
  metadata travels beside it;
* decode / feature-extract / resize / frame-sample run as
  ``mapInPandas`` stages so each Arrow batch crosses the Python
  boundary once. The image/audio codecs are NOT in this container, so
  the decode core is stubbed: ``decoder=None`` uses a deterministic
  fake (sha256-derived dimensions) and a real deployment injects the
  PIL/ffmpeg-backed callable. The Spark-side plumbing — schema,
  partitioning, UDF signature, batch shape — is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

DECODED_SCHEMA = (
    "media_ref string, media_type string, width int, height int, "
    "n_frames int, ok boolean, err string"
)


def sniff_media_type(content) -> "F.Column":
    """Content-type from magic bytes (the WHATWG MIME-sniffing /
    file(1) approach, public signatures) — a crawl cannot trust the
    server's Content-Type header, so the stored ``media_type`` column
    should come from the bytes themselves. Pure JVM: hex the first 16
    bytes (``hex(substring(binary))`` stays O(1) per row regardless of
    blob size) and prefix-match. Detects the formats a web crawl
    actually meets: JPEG, PNG, GIF(87a/89a), WebP/WAV (RIFF with the
    format tag at bytes 9-12), MP4 (``ftyp`` at bytes 5-8), MP3
    (ID3v2 or a bare frame-sync), Ogg, PDF, gzip, and falls back to
    ``application/octet-stream``. NULL content stays NULL."""
    h = F.hex(F.substring(content, 1, 16))
    return (
        F.when(content.isNull(), F.lit(None).cast("string"))
        .when(h.startswith("FFD8FF"), F.lit("image/jpeg"))
        .when(h.startswith("89504E470D0A1A0A"), F.lit("image/png"))
        .when(
            h.startswith("474946383761") | h.startswith("474946383961"),
            F.lit("image/gif"),
        )
        .when(
            h.startswith("52494646") & (F.substring(h, 17, 8) == "57454250"),
            F.lit("image/webp"),
        )
        .when(
            h.startswith("52494646") & (F.substring(h, 17, 8) == "57415645"),
            F.lit("audio/wav"),
        )
        .when(
            # UTF-16 BOMs, checked before the MPEG frame sync below:
            # FFFE is bit-wise a valid sync but overwhelmingly means
            # UTF-16LE text on the web. This arm exists only to keep
            # UTF-16 text out of audio/mpeg; it does not label text.
            h.startswith("FFFE") | h.startswith("FEFF"),
            F.lit("application/octet-stream"),
        )
        .when(
            # MPEG audio frame sync is 11 set bits: 0xFF then a second
            # byte >= 0xE0 (covers FFE2/FFF2/FFF3/FFFA/FFFB variants).
            # JPEG's FFD8FF is matched above so it can't reach here.
            h.startswith("494433")
            | h.startswith("FFE")
            | h.startswith("FFF"),
            F.lit("audio/mpeg"),
        )
        .when(h.startswith("4F676753"), F.lit("audio/ogg"))
        .when(F.substring(h, 9, 8) == "66747970", F.lit("video/mp4"))
        .when(h.startswith("25504446"), F.lit("application/pdf"))
        .when(h.startswith("1F8B"), F.lit("application/gzip"))
        .otherwise(F.lit("application/octet-stream"))
    )


def fake_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic decode stand-in: dimensions derived from
    sha256(content). Clearly marked — replace with a PIL/ffmpeg-backed
    callable in production."""
    rows = []
    for ref, content, mtype in zip(
        pdf["media_ref"], pdf["content"], pdf["media_type"]
    ):
        if content is None:
            rows.append((ref, mtype, None, None, None, False, "empty content"))
            continue
        h = hashlib.sha256(bytes(content)).digest()
        w = 64 + h[0] * 8
        ht = 64 + h[1] * 8
        frames = 1 if mtype == "image" else 1 + h[2] % 240
        rows.append((ref, mtype, w, ht, frames, True, None))
    return pd.DataFrame(
        rows,
        columns=["media_ref", "media_type", "width", "height", "n_frames", "ok", "err"],
    )


def decode_media(
    media: DataFrame,
    decoder: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
) -> DataFrame:
    """Decode a media table to typed metadata via one mapInPandas pass.

    Repartitions by hash of media_ref so binary blobs spread evenly
    (media sizes are heavy-tailed; ref-hash avoids all-of-one-host's
    images landing in one task the way an input-file split would).
    """
    fn = decoder or fake_decode_batch

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return media.repartition(F.col("media_ref")).mapInPandas(run, DECODED_SCHEMA)


def media_features(
    decoded: DataFrame,
    embed_dim: int = 16,
) -> DataFrame:
    """Deterministic per-media feature vector (the embedding-extraction
    slot). Stub embedding = scaled bytes of md5(media_ref); a real
    deployment swaps in a vision-model pandas UDF with the same
    signature (array<float> out, one Arrow batch per call)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(refs: pd.Series) -> pd.Series:
        out = []
        for r in refs:
            h = hashlib.md5(str(r).encode()).digest()
            out.append([((h[i % 16] / 255.0) * 2 - 1) for i in range(embed_dim)])
        return pd.Series(out)

    return decoded.withColumn("embedding", embed(F.col("media_ref")))


def sample_frames(decoded: DataFrame, every_n: int = 24) -> DataFrame:
    """Frame-sample plan for video rows: one output row per kept frame
    index — pure relational explode, no decode involved (the decode of
    the kept frames happens downstream in decode_media's production
    variant)."""
    vids = decoded.filter((F.col("media_type") == "video") & F.col("ok"))
    return vids.select(
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


def spans_media_refs(documents: DataFrame) -> DataFrame:
    """media_refs referenced by span documents (the fetch list for the
    media pipeline): explode media spans, keep-first per ref."""
    refs = documents.select(
        F.col("doc_id"), F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "media")
    return refs.select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    ).groupBy("media_ref").agg(
        F.min_by("doc_id", F.struct("doc_id", "offset")).alias("first_doc_id"),
        F.count("*").alias("n_refs"),
    )
