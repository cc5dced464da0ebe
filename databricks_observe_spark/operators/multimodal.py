"""Multimodal-column plumbing (extension surface).

Treats media as opaque ``binary`` columns with typed metadata, per the
100 TB design stance: the bytes never leave the executor, metadata travels
in columns, and decode/feature-extraction runs in Arrow-batched kernels
(``arrow_map`` — the mapInPandas contract on the mapInArrow runner)
with an explicit output schema.

The container has no image/audio codecs, so the actual decode is STUBBED:
``decode_media`` raises ``NotImplementedError`` for real formats, and the
pipeline uses ``fake_decode_features`` — a deterministic stand-in keyed on
the content digest — so the Spark-side plumbing (schema, batching,
partition behavior) is real and tested end-to-end.

``media_blobs`` derives a synthetic binary column from ``documents.text``
(same shape a real image/audio table would have: id, blob, media_type).
``multimodal_meta`` is the oracle-checked metadata pass (byte length,
sha256, magic prefix) — pure JVM, no Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from databricks_observe_spark.functions.arrowmap import arrow_map
from databricks_observe_spark.sources.tables import documents_split

FEATURE_DIM = 8

_MEDIA_TYPE = (
    "CASE WHEN doc_id % 3 = 0 THEN 'image/png' "
    "WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END"
)


def media_blobs(docs: DataFrame) -> DataFrame:
    """Synthetic media table over a ``documents`` frame: (doc_id, blob
    BINARY, media_type STRING).

    Stands in for an ingested object-store listing; blob payload is the
    utf-8 document text (deterministic, cross-engine reproducible). The
    Python decode paths pass the split memo (``documents_split``) so their
    CPU-bound stage runs on every core; the JVM passes read the scan.
    """
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("blob"),
        F.expr(_MEDIA_TYPE).alias("media_type"),
    )


def multimodal_meta(t: dict[str, DataFrame]) -> DataFrame:
    """Typed metadata over opaque blobs — JVM-only, scan-and-project.

    At 100 TB this is the pass that runs *before* any decode: cheap
    per-blob stats drive partition pruning and dedup (sha256 as content
    key) so expensive Python decoding touches unique content only.
    """
    blobs = media_blobs(t["documents"])
    return blobs.select(
        "doc_id",
        "media_type",
        F.length("blob").alias("n_bytes"),
        F.sha2("blob", 256).alias("sha256"),
        F.lower(F.hex(F.substring(F.col("blob"), 1, 4))).alias("magic"),
    )


# DuckDB's sha256/substring want VARCHAR; the fixture text is ASCII so
# character ops equal byte ops, and sha256(varchar) hashes the utf-8 bytes —
# same value as Spark's sha2(encode(text,'UTF-8'), 256).
MULTIMODAL_META_SQL = f"""
SELECT doc_id,
       {_MEDIA_TYPE} AS media_type,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha256,
       lower(hex(encode(substring(text, 1, 4)))) AS magic
FROM documents
"""


def decode_media(blob: bytes, media_type: str) -> dict:
    """Real decode hook — requires codecs this container does not ship."""
    raise NotImplementedError(
        f"no codec available for {media_type}; install pillow/librosa/av "
        "and replace fake_decode_features with a real extractor"
    )


def fake_decode_features(blob: bytes) -> list[float]:
    """Deterministic stand-in feature vector derived from content bytes.

    Mimics the shape/cost profile of an embedding extractor: output is a
    unit-scale float vector keyed on a content digest.
    """
    import hashlib
    import math

    h = hashlib.sha256(blob).digest()
    # round_half_up formula (floor(x*1e6 + 0.5)/1e6), matching the SQL
    # oracle's identical expression — Python's round() is half-EVEN and
    # DuckDB's round() half-up, so neither engine's native rounding is used
    return [
        math.floor((b / 255.0 - 0.5) * 1e6 + 0.5) / 1e6 for b in h[:FEATURE_DIM]
    ]


FEATURES_SCHEMA = "doc_id bigint, media_type string, n_bytes int, feature array<double>"


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["blob"].str.len(),
                "feature": pdf["blob"].map(fake_decode_features),
            }
        )


def extract_features(blobs: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over a blobs frame via
    ``arrow_map``: explicit output schema, batch iterator (constant
    memory), blob bytes never leave the executor. Swap
    ``fake_decode_features`` for a real decoder when codecs exist.
    """
    return arrow_map(blobs, _extract_batches, FEATURES_SCHEMA)


def media_features(t: dict[str, DataFrame]) -> DataFrame:
    """Registry query: one row per (doc, feature dim) — scalar columns only.

    ``extract_features`` keeps the natural ``array<double>`` shape for
    in-engine consumers; this driver-facing view ``posexplode``s it so the
    result is canonicalizable (sortable/hashable scalars) and fully
    oracle-checkable: the fake features are derived from sha256 digest
    bytes, which the SQL oracle recomputes from hex slices.
    """
    feats = extract_features(media_blobs(documents_split(t)))
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.posexplode("feature").alias("dim", "value"),
    )


# Features are floor((byte_i/255 - 0.5)*1e6 + 0.5)/1e6 over the first
# FEATURE_DIM bytes of sha256(blob) — recomputable in SQL from hex-pair
# slices of sha256(text) (DuckDB casts '0x..' strings to INT; both sides
# use the engine-free round_half_up formula, so parity holds for all 256
# byte values by construction). Cross-checks the whole Arrow path byte-
# for-byte: binary in, Python batches, typed scalars back out.
MEDIA_FEATURES_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         {_MEDIA_TYPE} AS media_type,
         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         sha256(text) AS h
  FROM documents
)
SELECT doc_id, media_type, n_bytes,
       CAST(d.d AS INT) AS dim,
       floor((CAST('0x' || substring(h, 2 * CAST(d.d AS INT) + 1, 2) AS INT) / 255.0 - 0.5) * 1000000.0 + 0.5) / 1000000.0 AS value
FROM feats
CROSS JOIN (SELECT unnest(range(0, {FEATURE_DIM})) AS d) d
"""


FPS = 24  # synthesized video metadata: fixed frame rate
MAX_SAMPLED = 16  # cap on sampled frames per video
THUMB = 64  # resize target (longest edge)


def frame_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Frame-sampling PLAN for video blobs: which frames to decode, chosen
    from metadata alone — one row per (video, sampled frame).

    This is the pass that makes 100 TB video tractable: the sampler reads
    typed metadata (duration, fps — synthesized deterministically from the
    blob length here, carried in columns in a real ingest), emits frame
    indices/timestamps at 1 frame/second capped at {MAX_SAMPLED}, and ONLY
    those frames ever reach a decoder. Pure JVM sequence/explode — no
    Python, no bytes touched — and fully oracle-checked.
    """
    vids = media_blobs(t["documents"]).filter(F.col("media_type") == "video/mp4")
    meta = vids.select(
        "doc_id",
        F.length("blob").alias("n_bytes"),
        (F.length("blob") % 30 + 1).alias("duration_s"),
    )
    n_sampled = F.least(F.col("duration_s"), F.lit(MAX_SAMPLED))
    return (
        meta.withColumn("n_frames", F.col("duration_s") * FPS)
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), (n_sampled - 1) * FPS, F.lit(FPS))),
        )
        .select(
            "doc_id",
            "duration_s",
            "n_frames",
            "frame_idx",
            (F.col("frame_idx") * 1000 / FPS).cast("int").alias("ts_ms"),
        )
    )


FRAME_SAMPLE_SQL = f"""
WITH vids AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         octet_length(encode(text)) % 30 + 1 AS duration_s
  FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id, duration_s, duration_s * {FPS} AS n_frames,
       i.i AS frame_idx, CAST(i.i * 1000 / {FPS} AS INT) AS ts_ms
FROM vids CROSS JOIN LATERAL (
  SELECT unnest(range(0, (least(duration_s, {MAX_SAMPLED}) - 1) * {FPS} + 1, {FPS})) AS i
) i
"""


SAMPLE_RATE = 16000  # synthesized audio metadata: fixed sample rate (Hz)
CHUNK_MS = 5000  # fixed chunk length for the ASR/embedding pass
CHUNK_OVERLAP_MS = 500  # trailing overlap so boundary speech isn't cut


def audio_chunking(t: dict[str, DataFrame]) -> DataFrame:
    """Chunking PLAN for audio blobs — the audio twin of
    :func:`frame_sample`: which byte ranges an ASR/embedding pass should
    decode, chosen from typed metadata alone, one row per (audio, chunk).

    Chunks are fixed {CHUNK_MS} ms windows with {CHUNK_OVERLAP_MS} ms
    trailing overlap (the standard segmentation in front of a
    speech model so boundary words survive the cut); duration and sample
    rate are synthesized deterministically from the blob length here and
    would be ingest-carried columns in a real table. Byte offsets assume
    16-bit mono PCM at SAMPLE_RATE — exact integer arithmetic end to
    end. Pure JVM sequence/explode, no Python, no bytes touched; ONLY
    the planned ranges ever reach a decoder, which is what makes 100 TB
    of audio tractable.
    """
    auds = media_blobs(t["documents"]).filter(F.col("media_type") == "audio/wav")
    step = CHUNK_MS - CHUNK_OVERLAP_MS
    meta = auds.select(
        "doc_id",
        F.length("blob").alias("n_bytes"),
        ((F.length("blob") % 120 + 1) * 1000).alias("duration_ms"),
    )
    return (
        meta.withColumn(
            "start_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(step),
                )
            ),
        )
        .select(
            "doc_id",
            "duration_ms",
            (F.col("start_ms") / F.lit(step)).cast("int").alias("chunk_idx"),
            "start_ms",
            F.least(
                F.col("start_ms") + F.lit(CHUNK_MS), F.col("duration_ms")
            ).alias("end_ms"),
        )
        .withColumn(
            "byte_off",
            (
                F.col("start_ms").cast("bigint")
                * F.lit(SAMPLE_RATE * 2)
                / F.lit(1000)
            ).cast("bigint"),
        )
        .withColumn(
            "byte_len",
            (
                (F.col("end_ms") - F.col("start_ms")).cast("bigint")
                * F.lit(SAMPLE_RATE * 2)
                / F.lit(1000)
            ).cast("bigint"),
        )
    )


AUDIO_CHUNKING_SQL = f"""
WITH auds AS (
  SELECT doc_id,
         (octet_length(encode(text)) % 120 + 1) * 1000 AS duration_ms
  FROM documents WHERE doc_id % 3 = 1
)
SELECT doc_id, duration_ms,
       CAST(i.i / {CHUNK_MS - CHUNK_OVERLAP_MS} AS INT) AS chunk_idx,
       i.i AS start_ms,
       LEAST(i.i + {CHUNK_MS}, duration_ms) AS end_ms,
       CAST(i.i * {SAMPLE_RATE * 2} / 1000 AS BIGINT) AS byte_off,
       CAST((LEAST(i.i + {CHUNK_MS}, duration_ms) - i.i)
            * {SAMPLE_RATE * 2} / 1000 AS BIGINT) AS byte_len
FROM auds CROSS JOIN LATERAL (
  SELECT unnest(range(0, GREATEST(duration_ms - 1, 0) + 1,
                 {CHUNK_MS - CHUNK_OVERLAP_MS})) AS i
) i
"""


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        n = pdf["blob"].str.len()
        # synthesized source dims (a real table carries these as columns)
        w = 100 + n % 900
        h = 100 + (n * 7) % 900
        longest = w.combine(h, max)
        out_w = (w * THUMB // longest).astype("int32")
        out_h = (h * THUMB // longest).astype("int32")
        thumb_sha = pdf["blob"].map(
            lambda b: hashlib.sha256(bytes(b) + b"|%dx%d" % (THUMB, THUMB)).hexdigest()
        )
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "src_w": w.astype("int32"),
                "src_h": h.astype("int32"),
                "out_w": out_w,
                "out_h": out_h,
                "thumb_sha": thumb_sha,
            }
        )


def image_resize(t: dict[str, DataFrame]) -> DataFrame:
    """Resize plumbing for image blobs via Arrow-batched ``arrow_map``:
    integer-exact output geometry (longest edge -> {THUMB}, aspect
    preserved via integer division) plus a content-addressed thumbnail
    digest computed from the blob bytes inside the UDF.

    The real pixel resample is the codec stub (see ``decode_media``); what
    IS real — and differentially tested, because the oracle recomputes the
    same definitions in SQL — is the whole Arrow path: binary columns into
    Python batches, byte-exact digests out, typed schema back to the JVM.
    """
    imgs = media_blobs(documents_split(t)).filter(F.col("media_type") == "image/png")
    return arrow_map(
        imgs,
        _resize_batches,
        "doc_id bigint, src_w int, src_h int, out_w int, out_h int, thumb_sha string",
    )


IMAGE_RESIZE_SQL = f"""
WITH imgs AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
  WHERE doc_id % 3 = 0
),
dims AS (
  SELECT doc_id, text,
         100 + n % 900 AS src_w,
         100 + (n * 7) % 900 AS src_h
  FROM imgs
)
SELECT doc_id, CAST(src_w AS INT) AS src_w, CAST(src_h AS INT) AS src_h,
       CAST(src_w * {THUMB} // greatest(src_w, src_h) AS INT) AS out_w,
       CAST(src_h * {THUMB} // greatest(src_w, src_h) AS INT) AS out_h,
       sha256(text || '|{THUMB}x{THUMB}') AS thumb_sha
FROM dims
"""
