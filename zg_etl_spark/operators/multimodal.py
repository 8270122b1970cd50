"""Multimodal column operators: opaque binary payloads + typed metadata.

Design for a 100 TB media corpus: media lives as ``binary`` columns (or
object-store URIs) beside typed metadata; decode / feature-extraction /
resize / frame-sampling run as Arrow-batched Pandas UDFs via
``mapInPandas`` so bytes never take the row-at-a-time Python path. The
actual image/audio decode libraries are not in this container, so the
decode step is STUBBED (`decode_image` raises NotImplementedError; the
deterministic fake extractor stands in for tests) — the Spark-side
plumbing (schema, batch iteration, partitioning) is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.StructType(
            [
                T.StructField("mime", T.StringType(), True),
                T.StructField("width", T.IntegerType(), True),
                T.StructField("height", T.IntegerType(), True),
                T.StructField("n_bytes", T.LongType(), True),
            ]
        ), True),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, n_bytes long, byte_mean double, byte_histogram array<long>, "
    "n_frames long"
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat the documents table's text bytes as an opaque payload
    with typed metadata — the schema a real image/audio table would have."""
    payload = F.encode("text", "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_image(payload: bytes):
    """Real decoder entry point — requires an image library not present in
    this environment. The pipeline plumbing calls extract_features instead."""
    raise NotImplementedError(
        "image decode requires PIL/opencv; wire a decoder here on a cluster "
        "image that ships one"
    )


def extract_features(df: DataFrame, n_bins: int = 16, frame_size: int = 256) -> DataFrame:
    """Deterministic fake feature extraction over binary payloads:
    byte-level stats + histogram + fixed-size frame count. Arrow-batched via
    mapInPandas — the exact shape a real decode+embed stage has.
    ``n_bins`` must be in [1, 256]: the bucket math below is uint16 and
    would wrap silently past that."""
    if not 1 <= n_bins <= 256:
        raise ValueError(f"n_bins must be in [1, 256], got {n_bins}")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # worker-side import (closure is cloudpickled)

        for pdf in batches:
            # whole-batch vectorization: one concatenated byte buffer +
            # a row-index key, so sums and histograms are a handful of
            # numpy calls per BATCH instead of five per ROW. The buffer
            # stays uint8 throughout — an int64 blob copy plus an int64
            # weights-bincount made the working set ~40 bytes per payload
            # byte, and those large fresh allocations stalled multi-second
            # on page faults for bigger-payload batches (l15); the narrow
            # path below peaks at ~14 bytes per payload byte.
            payloads = [
                bytes(p) if p is not None else b"" for p in pdf["payload"]
            ]
            n_rows = len(payloads)
            lens = np.fromiter(
                (len(b) for b in payloads), dtype=np.int64, count=n_rows
            )
            blob = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            # per-row byte sums: one int64 running sum over the blob,
            # sliced at row boundaries — exact integer math, no blob copy
            ends = np.cumsum(lens)
            cs = np.concatenate(([0], np.cumsum(blob, dtype=np.int64)))
            sums = np.diff(np.concatenate(([0], cs[ends])))
            means = np.where(lens > 0, sums / np.maximum(lens, 1), 0.0)
            # histogram: bucket = byte * n_bins // 256 computed in uint16
            # (exact for n_bins <= 256 — byte*n_bins < 2^16), combined
            # with a uint32 row key for one segmented bincount
            bucket = (blob.astype(np.uint16) * n_bins) >> 8
            row_idx = np.repeat(np.arange(n_rows, dtype=np.uint32), lens)
            key = row_idx * np.uint32(n_bins) + bucket
            hist = np.bincount(
                key, minlength=n_rows * n_bins
            ).reshape(n_rows, n_bins)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(dtype=np.int64,
                                                         copy=False),
                    "n_bytes": lens,
                    "byte_mean": means,
                    "byte_histogram": list(hist),
                    "n_frames": (lens + frame_size - 1) // frame_size,
                }
            )

    return df.select("media_id", "payload").mapInPandas(op, FEATURE_SCHEMA)


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: same schema in and out (payload + meta), target
    dims recorded in meta, payload re-emitted at the decoded-image byte
    budget. The pixel resample itself needs a decoder (decode_image stub);
    the deterministic stand-in crops/cycle-pads the payload to
    width*height bytes so output sizes — and therefore downstream
    partition/memory budgets — behave exactly like a real resize stage.
    Arrow-batched via mapInPandas; one output row per input row, so the
    stage preserves partitioning (no shuffle)."""
    target = width * height

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar build: the byte tiling itself is C-speed; the old
            # row loop spent its time constructing a dict-of-dicts per
            # row — build the three columns directly instead
            resized = [
                (bytes(b) * (target // max(len(b), 1) + 1))[:target]
                if b is not None and len(b) else b""
                for b in pdf["payload"]
            ]
            metas = [
                {
                    "mime": m["mime"] if m is not None else None,
                    "width": width,
                    "height": height,
                    "n_bytes": len(r),
                }
                for m, r in zip(pdf["meta"], resized)
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": resized,
                    "meta": metas,
                }
            )

    return df.mapInPandas(op, MEDIA_SCHEMA)


def sample_frames(df: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling: explode fixed-size chunks of the payload, keep every
    n-th — the plumbing of video frame-sampling with the decode stubbed to
    byte-slicing. Pure built-in ops (no Python in the row path)."""
    chunks = F.expr(
        "transform(sequence(0, CAST((length(payload) - 1) / 256 AS INT)), "
        "i -> named_struct('frame_idx', i, 'frame', substring(payload, i * 256 + 1, 256)))"
    )
    return (
        df.select("media_id", F.explode(chunks).alias("f"))
        .select("media_id", F.col("f.frame_idx").alias("frame_idx"), F.col("f.frame").alias("frame"))
        .filter(F.col("frame_idx") % every_n == 0)
    )
