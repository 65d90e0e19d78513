"""Video/audio binary-column operators (north-star multimodal breadth —
the frame-sample / resize / chunk operations a training-data pipeline
runs over opaque media columns).

Same design as ``sources.images``: media are ``binaryFile`` rows; the
per-payload codec bodies are deterministic md5-derived STUBS (the real
codecs — PyAV/imageio/PIL — are not in this container) while the Spark
plumbing is fully real: Arrow-batched ``mapInPandas``, one-input-row →
many-output-rows frame explosion, per-row error tolerance, and
oracle-checkable arithmetic (the stub hashes run over the hex encoding
of the bytes, which DuckDB's ``read_blob`` + ``md5`` reproduce exactly).

Stub contracts (clearly marked, swapped at deploy time):
- video: 1 frame per 256 bytes @ 25 fps; a payload too short for one
  frame fails decode (error-tolerant null row).
- frame digest: ``md5(hex(content) + ':' + frame_idx)`` → 60-bit int —
  stands in for the decoded frame's pixel digest.
- resize: output digest ``md5(hex(content) + ':WxH')`` — stands in for
  the resized pixel buffer (PIL body: ``Image.open(...).resize((w, h))``,
  reference preprocessing shape ``utils/__init__.py:28-33``).
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame

# The Python-worker closures below call this module's functions. A
# worker need not have the package on its path, so cloudpickle ships
# the module's functions with each closure rather than importing them
# there.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

STUB_FRAME_BYTES = 256
STUB_FPS = 25.0

FRAMES_SCHEMA = (
    "path string, n_frames int, frame_idx int, frame_ms double, "
    "frame_hash long, decode_ok boolean"
)

RESIZED_SCHEMA = (
    "path string, length long, target_w int, target_h int, "
    "resized_hash long, decode_ok boolean"
)


def _hex_prefix_long(s: str, digits: int = 15) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:digits], 16)


def sample_frames(df: DataFrame, stride: int = 4) -> DataFrame:
    """Frame sampling: every ``stride``-th frame of each video payload —
    one input row explodes into ceil(n_frames/stride) output rows inside
    the Arrow batch (the mapInPandas analogue of a generator/explode,
    with codec state loadable once per task). Failures yield a single
    ``decode_ok = false`` row instead of killing the job."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition init: open the real codec ONCE per task here
        for pdf in it:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    payload = bytes(content)
                    n_frames = len(payload) // STUB_FRAME_BYTES
                    if n_frames < 1:
                        raise ValueError("shorter than one frame")
                    hexed = payload.hex()
                    for i in range(0, n_frames, stride):
                        out.append(
                            (
                                path,
                                n_frames,
                                i,
                                i * 1000.0 / STUB_FPS,
                                _hex_prefix_long(f"{hexed}:{i}"),
                                True,
                            )
                        )
                except Exception:
                    out.append((path, None, None, None, None, False))
            yield pd.DataFrame(
                out,
                columns=[
                    "path",
                    "n_frames",
                    "frame_idx",
                    "frame_ms",
                    "frame_hash",
                    "decode_ok",
                ],
            )

    return df.mapInPandas(batches, schema=FRAMES_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """P1 resize plumbing: per-payload resized-buffer digest (stub) with
    the exact batch shape the PIL body drops into."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for path, length, content in zip(
                pdf["path"], pdf["length"], pdf["content"]
            ):
                try:
                    payload = bytes(content)
                    if len(payload) < 4:
                        raise ValueError("truncated payload")
                    digest = _hex_prefix_long(
                        f"{payload.hex()}:{width}x{height}"
                    )
                    out.append((path, length, width, height, digest, True))
                except Exception:
                    out.append((path, length, None, None, None, False))
            yield pd.DataFrame(
                out,
                columns=[
                    "path",
                    "length",
                    "target_w",
                    "target_h",
                    "resized_hash",
                    "decode_ok",
                ],
            )

    return df.mapInPandas(batches, schema=RESIZED_SCHEMA)


def audio_chunks(df: DataFrame, chunk_bytes: int = 512) -> DataFrame:
    """Fixed-window audio chunking: (path, chunk_idx, offset, n_bytes,
    chunk_hash) per window — the feature-extraction batch layout for an
    audio frontend (the real body decodes PCM and emits spectrogram
    windows).

    F2 error tolerance like the other media maps: a null or empty payload
    yields one ``decode_ok = false`` row instead of failing the job or
    silently vanishing."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    payload = bytes(content)
                    if not payload:
                        raise ValueError("empty payload")
                    for ci, off in enumerate(range(0, len(payload), chunk_bytes)):
                        chunk = payload[off : off + chunk_bytes]
                        out.append(
                            (
                                path,
                                ci,
                                off,
                                len(chunk),
                                _hex_prefix_long(chunk.hex()),
                                True,
                            )
                        )
                except Exception:
                    out.append((path, None, None, None, None, False))
            yield pd.DataFrame(
                out,
                columns=[
                    "path",
                    "chunk_idx",
                    "offset",
                    "n_bytes",
                    "chunk_hash",
                    "decode_ok",
                ],
            )

    return df.mapInPandas(
        batches,
        schema=(
            "path string, chunk_idx int, offset long, n_bytes int, "
            "chunk_hash long, decode_ok boolean"
        ),
    )
