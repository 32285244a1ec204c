"""Multimodal-column plumbing (SURVEY.md §7.4).

Images/audio/video are carried as opaque `binary` columns with typed
metadata alongside. The Spark-side machinery here is real and tested —
schema handling, Arrow batching through `mapInPandas`, partition-
parallel feature extraction — while the actual media decoding is
stubbed: the container has no image/audio libraries, so `decode_media`
raises NotImplementedError and the feature path computes deterministic
byte-level features (length, first byte, a simple checksum) that an
oracle can verify. Swapping the stub for PIL/librosa later changes
only `_decode_batch`, not the Spark plumbing.

Design notes for 100 TB: mapInPandas streams Arrow batches — per-task
memory is bounded by `spark.sql.execution.arrow.maxRecordsPerBatch`;
binary payloads never pass through the driver; feature extraction is
a narrow transformation (no shuffle).

Every kernel reads the media blob from a binary column named
``payload`` (see ``with_binary_payload``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "id bigint, n_bytes bigint, first_byte bigint, checksum bigint"
# sample_frames: every _FRAME_STRIDE-th byte, at most _MAX_FRAMES frames
_FRAME_STRIDE = 16
_MAX_FRAMES = 8
# resize_media's target dimensions
_TARGET_W = 224
_TARGET_H = 224


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Materialize the binary ``payload`` column (UTF-8 bytes of the
    ``text`` column here; in a real pipeline this is the raw media blob
    read from object storage)."""
    return df.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def _non_null_payload(df: DataFrame) -> DataFrame:
    """Narrow (id, payload) projection minus NULL payloads.

    A missing blob is routine at 100 TB (failed fetch, tombstoned
    object); the media kernels skip it instead of crashing the batch.
    Oracles mirror with WHERE text IS NOT NULL.
    """
    return df.where(F.col("payload").isNotNull()).select("doc_id", "payload")


def _feature_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "id": pdf["doc_id"],
                "n_bytes": payloads.map(len),
                "first_byte": payloads.map(lambda b: b[0] if len(b) else -1),
                "checksum": payloads.map(
                    lambda b: (len(b) * 31 + (b[0] if len(b) else 0)) % 1000
                ),
            }
        )


def extract_byte_features(df: DataFrame) -> DataFrame:
    """Arrow-batched per-partition feature extraction over the binary
    payload column. Deterministic stub features (see module docstring)."""
    narrow = _non_null_payload(df)
    return narrow.mapInPandas(_feature_batch, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "id bigint, frame_idx bigint, byte_val bigint"


def _frame_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, idxs, vals = [], [], []
        for rid, payload in zip(pdf["doc_id"], pdf["payload"]):
            for i in range(_MAX_FRAMES):
                pos = i * _FRAME_STRIDE
                if pos >= len(payload):
                    break
                ids.append(rid)
                idxs.append(i)
                vals.append(payload[pos])
        # explicit dtypes: an empty batch would otherwise infer object
        # columns and trip pandas' all-NA concat deprecation
        yield pd.DataFrame(
            {
                "id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "byte_val": pd.Series(vals, dtype="int64"),
            }
        )


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: emit every
    `_FRAME_STRIDE`-th byte (up to `_MAX_FRAMES`) as one row per "frame".

    In a real pipeline the body of `_frame_batch` seeks keyframes with
    an av/ffmpeg decoder; here the deterministic byte sampler stands in
    so the row-explosion shape, Arrow batching, and output schema —
    the parts Spark cares about — are real and oracle-checked. One
    narrow mapInPandas pass, no shuffle, no driver involvement.
    """
    narrow = _non_null_payload(df)
    return narrow.mapInPandas(_frame_batch, schema=FRAME_SCHEMA)


def decode_media(df: DataFrame):
    """Real media decode — requires image/audio libs absent from this
    environment. The Spark plumbing above is the tested surface."""
    raise NotImplementedError(
        "media decoding needs PIL/librosa/av; wire the decoder into "
        "_feature_batch — the mapInPandas plumbing is already in place"
    )


META_SCHEMA = (
    "id bigint, mime string, src_w bigint, src_h bigint, "
    "out_w bigint, out_h bigint, out_bytes bigint"
)


def _resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cap = (_TARGET_W * _TARGET_H) // 64
    for pdf in batches:
        ids, mimes, sw, sh, ow, oh, ob = [], [], [], [], [], [], []
        for rid, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            first = payload[0] if n else 0
            # deterministic stand-in for header parsing: a real decoder
            # reads dimensions from the container; the stub derives
            # them from the bytes so any engine can reproduce them
            ids.append(rid)
            mimes.append("image/stub")
            sw.append(64 + first % 192)
            sh.append(64 + n % 192)
            ow.append(_TARGET_W)
            oh.append(_TARGET_H)
            ob.append(min(n, cap))
        yield pd.DataFrame(
            {
                "id": pd.Series(ids, dtype="int64"),
                "mime": pd.Series(mimes, dtype="object"),
                "src_w": pd.Series(sw, dtype="int64"),
                "src_h": pd.Series(sh, dtype="int64"),
                "out_w": pd.Series(ow, dtype="int64"),
                "out_h": pd.Series(oh, dtype="int64"),
                "out_bytes": pd.Series(ob, dtype="int64"),
            }
        )


def resize_media(df: DataFrame) -> DataFrame:
    """Resize plumbing for image-like payloads: typed metadata out
    (mime, source dims, target dims, output size), one narrow
    mapInPandas pass, no shuffle.

    A real pipeline swaps the body of `_resize_batch` for
    PIL.Image.open(...).resize((_TARGET_W, _TARGET_H)) and emits the
    re-encoded bytes; the stub derives dimensions/sizes
    deterministically from the payload so the schema, Arrow batch
    shape, and partitioning — the Spark-side contract — are
    oracle-verified. See `decode_media` for the honest decode guard.
    """
    narrow = _non_null_payload(df)
    return narrow.mapInPandas(_resize_batch, schema=META_SCHEMA)
