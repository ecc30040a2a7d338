"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

The decode step is STUBBED (this container has no image/audio libraries)
behind ``decoder=`` injection with a deterministic fake as default — the
Spark-side plumbing (schema, batch shape, partitioning, UDF signature) is
real and tested. Swapping ``_fake_decode`` for a Pillow/ffmpeg call is a
one-function change on a real cluster.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import local_frame

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),   # image | audio | video
        StructField("payload", BinaryType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def _fake_decode(payload: bytes, kind: str) -> dict:
    """Deterministic stand-in for a real decoder (Pillow/librosa/ffmpeg).

    Derives fake dimensions and an 8-dim feature vector from the sha256 of
    the payload — stable across executors, partitions, and runs, and
    reproducible in SQL (floor-based rounding, see functions/numeric.py)
    so the plumbing has a DuckDB oracle. A real deployment raises
    NotImplementedError for kinds it can't decode.
    """
    digest = hashlib.sha256(payload).digest()
    width = 16 + digest[0] % 240
    height = 16 + digest[1] % 240
    feature = [
        int(b / 255.0 * 1_000_000 + 0.5) / 1_000_000 for b in digest[2:10]
    ]
    return {"width": width, "height": height, "feature": feature}


def extract_media_features(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    kind_col: str = "kind",
    decoder: Callable[[bytes, str], dict] = _fake_decode,
) -> DataFrame:
    """binary payloads → typed features via one Arrow-batched crossing.

    Batch shape: each pandas batch holds ≤ arrow.maxRecordsPerBatch rows;
    payloads arrive as Python bytes. Partitioning is inherited — at scale,
    repartition upstream so a partition's payload bytes fit executor
    memory (spark.sql.files.maxPartitionBytes governs the scan side).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for mid, kind, payload in zip(
                batch[id_col], batch[kind_col], batch[payload_col]
            ):
                if payload is None:
                    rows.append((mid, kind, 0, None, None, None))
                    continue
                meta = decoder(bytes(payload), kind)
                rows.append(
                    (
                        mid,
                        kind,
                        len(payload),
                        meta.get("width"),
                        meta.get("height"),
                        meta.get("feature"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "n_bytes", "width", "height", "feature",
                ],
            )

    cols = media.select(
        F.col(id_col), F.col(kind_col), F.col(payload_col)
    )
    return cols.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("src_width", IntegerType()),
        StructField("src_height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("resized_md5", StringType()),
    ]
)


def _fake_resize(
    payload: bytes, width: int, height: int, target_w: int, target_h: int
) -> bytes:
    """Deterministic resize stand-in: keep a byte prefix proportional to
    the pixel-count ratio (integer math, SQL-reproducible). A real
    deployment swaps in Pillow's Image.resize behind the same signature."""
    n_out = max(1, (len(payload) * target_w * target_h) // (width * height))
    return payload[:n_out]


def resize_media(
    media: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
    kind_col: str = "kind",
    decoder: Callable[[bytes, str], dict] = _fake_decode,
    resizer: Callable[..., bytes] = _fake_resize,
) -> DataFrame:
    """Decode → resize in one Arrow crossing: source dims from the
    (injectable) decoder, resized payload from the (injectable) resizer;
    emits the resized bytes' digest + both geometries."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for mid, kind, payload in zip(
                batch[id_col], batch[kind_col], batch[payload_col]
            ):
                if payload is None:
                    continue
                data = bytes(payload)
                meta = decoder(data, kind)
                w, h = meta["width"], meta["height"]
                resized = resizer(data, w, h, target_w, target_h)
                rows.append(
                    (
                        mid, kind, w, h, target_w, target_h,
                        len(resized), hashlib.md5(resized).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "src_width", "src_height",
                    "width", "height", "n_bytes", "resized_md5",
                ],
            )

    return media.select(
        F.col(id_col), F.col(kind_col), F.col(payload_col)
    ).mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def sample_frames(
    media: DataFrame,
    n_frames: int = 8,
    every: int = 2,
    id_col: str = "media_id",
    payload_col: str = "payload",
    kind_col: str = "kind",
    video_kind: str = "video",
) -> DataFrame:
    """Frame sampling plumbing: each video payload splits into
    ``n_frames`` contiguous byte slices (frame i = payload[i·L//n :
    (i+1)·L//n], the ffmpeg-keyframe stand-in) and every ``every``-th
    frame is emitted as its own row — a row-EXPANDING mapInPandas, the
    shape a real frame extractor needs. Non-video rows are dropped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for mid, kind, payload in zip(
                batch[id_col], batch[kind_col], batch[payload_col]
            ):
                if kind != video_kind or payload is None:
                    continue
                data = bytes(payload)
                length = len(data)
                for i in range(0, n_frames, every):
                    frame = data[i * length // n_frames : (i + 1) * length // n_frames]
                    rows.append(
                        (mid, i, len(frame), hashlib.md5(frame).hexdigest())
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "n_bytes", "frame_md5"],
            )

    return media.select(
        F.col(id_col), F.col(kind_col), F.col(payload_col)
    ).mapInPandas(run, schema=FRAME_SCHEMA)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests: payload bytes derived
    from (seed, media_id)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (1 + i % 7)
        rows.append((i, kinds[i % 3], bytearray(payload)))
    return local_frame(spark, rows, MEDIA_SCHEMA)
