"""[EXT] Multimodal columns: image/audio/video as opaque binary + typed
metadata (SURVEY.md section 2.10 E4; north-star training-data scope).

The Spark-side plumbing is real and tested — schemas, Arrow-batched
``mapInPandas`` iteration, partition-preserving feature extraction. The
actual media codecs are NOT in this environment, so the codec step is
isolated behind ``decode_media``:

- ``decoder="real"`` imports PIL/av lazily and raises ``NotImplementedError``
  with a clear message when absent (clearly-marked stub),
- ``decoder="fake"`` (default for tests) derives a deterministic byte-level
  feature vector from the payload — same batch shape, schema, and
  partitioning as the real path would have.

Scale notes: feature extraction is ``mapInPandas`` (Arrow batches, no
shuffle, no driver traffic); payload bytes stay columnar end-to-end. Batch
size is governed by ``spark.sql.execution.arrow.maxRecordsPerBatch`` — at
real image sizes set it low (e.g. 64) to bound executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark import pyworker
from amazon_kinesis_data_streams_health_check_spark.schemas import (
    MEDIA_FEATURE_SCHEMA,
    MEDIA_RESIZE_SCHEMA,
)

#: Fixed feature width for the fake byte-level featurizer.
FEATURE_DIM = 8


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Build a media-shaped table from ``documents`` (no media testdata
    exists): payload = UTF-8 bytes of the text standing in for encoded media;
    kind cycles image/audio/video; metadata derived deterministically."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime_type"),
        (F.col("n_chars") % 640 + 1).alias("width"),
        (F.col("n_chars") % 480 + 1).alias("height"),
        (F.col("n_chars") * 10).alias("duration_ms"),
    )


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in featurizer: mean byte value of FEATURE_DIM
    equal chunks (float32-rounded for a stable array<float> column)."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return [0.0] * FEATURE_DIM
    chunks = np.array_split(arr, FEATURE_DIM)
    return [float(np.float32(c.mean())) if c.size else 0.0 for c in chunks]


def _real_decode(payload: bytes, kind: str):
    if kind == "image":
        try:
            from PIL import Image  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "real image decode requires Pillow, which is not installed in "
                "this environment; use decoder='fake' for the deterministic "
                "plumbing path"
            ) from e
    else:
        try:
            import av  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                f"real {kind} decode requires PyAV, which is not installed in "
                "this environment; use decoder='fake'"
            ) from e
    raise NotImplementedError("real decode path not implemented in this build")


def decode_media(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """media rows -> (media_id, kind, feature array<float>, n_bytes).

    Arrow-batched ``mapInPandas``; one output row per input row, schema pinned
    to MEDIA_FEATURE_SCHEMA regardless of decoder.
    """
    if decoder not in {"fake", "real"}:
        raise ValueError(f"unknown decoder: {decoder}")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        for pdf in batches:
            feats = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                raw = bytes(payload) if payload is not None else b""
                if decoder == "real":
                    _real_decode(raw, kind)
                feats.append(_fake_features(raw))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "n_bytes": [len(bytes(p)) if p is not None else 0 for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(extract, schema=MEDIA_FEATURE_SCHEMA)


def resize_media(media: DataFrame, max_dim: int = 64) -> DataFrame:
    """Image-style resize plumbing: target dims computed JVM-side (aspect-
    preserving fit into ``max_dim``), payload transformed in an Arrow-batched
    ``mapInPandas`` whose real-codec slot is the same stub seam as
    ``decode_media`` (the fake path deterministically subsamples bytes to
    ``new_width * new_height`` so output size tracks the computed dims)."""
    scale = F.least(
        F.lit(1.0),
        F.lit(max_dim) / F.greatest(F.col("width"), F.col("height")).cast("double"),
    )
    sized = media.filter(F.col("kind") == "image").select(
        "media_id",
        "payload",
        "width",
        "height",
        # floor, not cast: cast-to-int truncates in Spark but ROUNDS in some
        # engines (DuckDB) — floor is unambiguous on both sides of the oracle.
        F.greatest(F.floor(F.col("width") * scale).cast("int"), F.lit(1)).alias("new_width"),
        F.greatest(F.floor(F.col("height") * scale).cast("int"), F.lit(1)).alias("new_height"),
    )

    def shrink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        for pdf in batches:
            out_bytes = []
            for payload, nw, nh in zip(pdf["payload"], pdf["new_width"], pdf["new_height"]):
                raw = bytes(payload) if payload is not None else b""
                target = max(int(nw) * int(nh), 1)
                if len(raw) <= target:
                    out_bytes.append(raw)
                else:  # deterministic stride subsample
                    stride = len(raw) / target
                    out_bytes.append(bytes(raw[int(i * stride)] for i in range(target)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "new_width": pdf["new_width"],
                    "new_height": pdf["new_height"],
                    "payload": out_bytes,
                    "n_bytes": [len(b) for b in out_bytes],
                }
            )

    return sized.mapInPandas(shrink, schema=MEDIA_RESIZE_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """Video-style frame sampling on the opaque payload: one synthetic
    "frame" per ``every_n_bytes`` offset (capped). Pure column expressions —
    the sampling plumbing (explode to frame rows, offset bookkeeping) is the
    real part; frame decode would plug into ``decode_media``."""
    n = F.least(
        F.greatest((F.length("payload") / every_n_bytes).cast("long"), F.lit(1)),
        F.lit(max_frames),
    )
    return (
        media.filter(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n - 1)))
        .select(
            "media_id",
            "frame_idx",
            (F.col("frame_idx") * every_n_bytes).alias("byte_offset"),
            F.expr(f"substring(payload, frame_idx * {every_n_bytes} + 1, {every_n_bytes})").alias(
                "frame_bytes"
            ),
        )
    )


#: Audio windowing defaults: 1 fake sample per ms of metadata duration
#: (capped), 256-sample windows, 128-sample hop (50% overlap) — the standard
#: STFT framing geometry.
AUDIO_WINDOW = 256
AUDIO_HOP = 128
AUDIO_CAP_SAMPLES = 4000

AUDIO_WINDOW_SCHEMA = (
    "media_id long, widx long, start_ms long, n_samples long, "
    "sum_sq long, peak long"
)


def _fake_pcm(media_id: int, total: int) -> np.ndarray:
    """Deterministic stand-in decoder: sample i of media m is
    ``(m*31 + i*7) % 256 - 128`` — pure integer arithmetic, so an engine
    with no audio codec (or a SQL oracle) reproduces it exactly. A real
    deployment swaps this for the codec behind ``_real_decode``."""
    i = np.arange(total, dtype=np.int64)
    return (media_id * 31 + i * 7) % 256 - 128


def audio_windows(
    media: DataFrame,
    window: int = AUDIO_WINDOW,
    hop: int = AUDIO_HOP,
    cap_samples: int = AUDIO_CAP_SAMPLES,
) -> DataFrame:
    """Audio rows -> overlapping fixed-size analysis windows with
    integer-exact energy stats (sum of squares, peak amplitude).

    The framing geometry (window/hop bookkeeping, tail handling: only FULL
    windows emit) and the Arrow batch shape are the real engineering; the
    PCM itself comes from the deterministic fake decoder. Scale shape: one
    ``mapInPandas`` pass, no shuffle — each media row expands to its own
    windows inside the partition; numpy does the framing with a strided
    view, so per-window cost is O(window) arithmetic, not Python loops.
    Stats are BIGINT-exact: no float accumulation order can diverge across
    partitionings or engines.
    """

    def frame(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        for pdf in batches:
            out = {
                "media_id": [],
                "widx": [],
                "start_ms": [],
                "n_samples": [],
                "sum_sq": [],
                "peak": [],
            }
            for media_id, dur in zip(pdf["media_id"], pdf["duration_ms"]):
                total = int(min(int(dur), cap_samples))
                if total < window:
                    continue
                pcm = _fake_pcm(int(media_id), total)
                frames = np.lib.stride_tricks.sliding_window_view(pcm, window)[::hop]
                n = frames.shape[0]
                out["media_id"].extend([int(media_id)] * n)
                out["widx"].extend(range(n))
                out["start_ms"].extend((np.arange(n) * hop).tolist())
                out["n_samples"].extend([window] * n)
                out["sum_sq"].extend((frames.astype(np.int64) ** 2).sum(axis=1).tolist())
                out["peak"].extend(np.abs(frames).max(axis=1).astype(np.int64).tolist())
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "audio").select(
        "media_id", "duration_ms"
    ).mapInPandas(frame, schema=AUDIO_WINDOW_SCHEMA)
