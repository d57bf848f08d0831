"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the payload is an opaque ``binary``
column (or a pointer to object storage) travelling next to typed metadata
(mime, width, height, duration...). Decode / feature-extraction / resize /
frame-sampling run as Arrow-batched ``mapInPandas`` stages so bytes move
through Spark in columnar batches, never row-at-a-time Python.

The actual codec work (PIL/ffmpeg/torchvision) is STUBBED in this
environment — the libraries aren't installed. ``decode_image_batch`` raises
``NotImplementedError`` unless ``fake=True``, in which case a deterministic
fake decoder (dimensions + 8-bin byte histogram derived from the payload
bytes) exercises the full Spark-side path: schema, batching, partitioning,
and UDF signatures are real and tested; only the pixel math is fake.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "id long, mime string, n_bytes int, width int, height int, "
    "hist array<double>"
)


def pack_binary(df: DataFrame, text_col: str, id_col: str,
                mime: str = "application/fake") -> DataFrame:
    """Test helper: fabricate a binary payload column from a string column
    (real pipelines read payloads from object storage / Iceberg binary)."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.lit(mime).alias("mime"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Deterministic fake: dims from byte length, 8-bin byte histogram.

    This scalar form is the REFERENCE for the vectorized batch decoder in
    :func:`decode_image_batch` — a parity test asserts the two agree
    row-for-row, so edit them together."""
    n = len(payload)
    width = 16 + (n % 64)
    height = 16 + ((n // 64) % 64)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 5, minlength=8).astype(np.float64)
    hist = hist / max(1.0, hist.sum())
    return width, height, hist


def decode_image_batch(df: DataFrame, fake: bool = False) -> DataFrame:
    """binary payloads -> (id, mime, n_bytes, width, height, hist).

    Real implementation would PIL-decode inside the Arrow batches; stubbed
    per environment constraints (``fake=True`` runs the deterministic fake,
    otherwise NotImplementedError — clearly marked stub).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image decode requires PIL/torchvision (not installed); "
                    "pass fake=True for the deterministic test decoder"
                )
            k = len(pdf)
            if k == 0:
                yield pd.DataFrame(
                    columns=["id", "mime", "n_bytes", "width", "height", "hist"]
                )
                continue
            # Vectorized over the whole Arrow batch: one concat + one
            # segment-indexed add for all histograms, no per-row loop.
            payloads = [bytes(p) for p in pdf["payload"]]
            n = np.fromiter(map(len, payloads), dtype=np.int64, count=k)
            widths = 16 + (n % 64)
            heights = 16 + ((n // 64) % 64)
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8) >> 5
            seg = np.repeat(np.arange(k), n)
            hist2d = np.zeros((k, 8), dtype=np.float64)
            np.add.at(hist2d, (seg, flat), 1.0)
            hist2d /= np.maximum(1.0, hist2d.sum(axis=1, keepdims=True))
            yield pd.DataFrame(
                {
                    "id": pdf["id"].astype("int64").to_numpy(),
                    "mime": pdf["mime"].to_numpy(),
                    "n_bytes": n.astype("int32"),
                    "width": widths.astype("int32"),
                    "height": heights.astype("int32"),
                    "hist": hist2d.tolist(),
                }
            )

    return df.mapInPandas(run, IMAGE_META_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n_seconds: float = 1.0,
                      duration_col: str = "duration_s") -> DataFrame:
    """Video frame-sampling PLAN: explodes (id, frame_ts) rows for each
    payload — the distribution-side half of frame extraction (the ffmpeg
    decode of each ts is the stubbed half)."""
    n_frames = F.greatest(
        F.lit(1), F.floor(F.col(duration_col) / F.lit(every_n_seconds)).cast("int")
    )
    return df.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_frames - 1),
                lambda i: i.cast("double") * F.lit(every_n_seconds),
            )
        ).alias("frame_ts"),
    )
