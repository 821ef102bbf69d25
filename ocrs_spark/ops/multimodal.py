"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decode / feature-extract / frame-sample over ``mapInPandas``.

The decode path is REAL: each document carries an encoded image payload
in one of three container formats (RAWI, PNG, lossless WebP chosen by
``doc_id % 3``), and the executor-side batches run them through the
same ``codec.decode_image`` magic-byte dispatcher the OCR pipeline
uses. The payloads are synthesized deterministically from (doc_id,
n_chars) with flat fills and lossless codecs, which keeps every output
column SQL-computable in closed form for the DuckDB oracle while the
Spark side exercises genuine format sniffing + decode per payload.
Uncompressed audio and video are REAL too — PCM WAV decode + clip
features live in ``ops/audio.py`` (from-spec RIFF chunk walk) and
uncompressed-AVI decode + frame sampling in ``ops/video.py`` (nested
LIST walk, DIB stride + bottom-up rows). Only PERCEPTUAL codecs stay
stubbed (no ffmpeg in the container); this module's frame sampling
runs over a synthetic per-doc frame count.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from . import derived_table
from ..codec import decode_image, encode_png, encode_rawi

META_SCHEMA = (
    "doc_id bigint, fmt string, width int, height int, channels int, "
    "decoded_bytes bigint, mean_pixel double, checksum bigint, "
    "n_frames int, sampled string"
)

PAYLOAD_SCHEMA = "doc_id bigint, fmt string, payload binary"

_FMTS = ("rawi", "png", "webp")


def _synth_dims(doc_id: int, n_chars: int) -> tuple[int, int, int, int]:
    """Deterministic fake image geometry from document metadata."""
    width = (n_chars % 64) + 16
    height = ((doc_id * 7) % 48) + 16
    channels = 3
    fill = doc_id % 251
    return width, height, channels, fill


def _synth_payload(doc_id: int, n_chars: int) -> tuple[str, bytes]:
    """(fmt, payload): the synthetic image in a per-doc container
    format. All three are lossless, so decode(payload) == the flat
    source exactly."""
    w, h, c, fill = _synth_dims(doc_id, n_chars)
    img = np.full((h, w, c), fill, dtype=np.uint8)
    fmt = _FMTS[doc_id % 3]
    if fmt == "rawi":
        return fmt, encode_rawi(img)
    if fmt == "png":
        return fmt, encode_png(img)
    from ..webp import encode_webp

    return fmt, encode_webp(img)


def payload_table(spark, sf_dir):
    """The encoded-corpus table (doc_id, fmt, payload), landed to
    parquet once per (session, sf_dir) — the stand-in for the real
    binary column a production corpus would already carry. Encoding is
    fixture work a real corpus never pays, so the timed decode query
    reads this table instead of synthesizing."""
    return derived_table(
        spark, sf_dir, "mm_payloads", ("doc_id", "n_chars"), PAYLOAD_SCHEMA,
        _synth_payload,
    )


def _decode_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..malloc_tuning import pretouch_arena

    pretouch_arena(64)
    cols = ("doc_id", "fmt", "width", "height", "channels",
            "decoded_bytes", "mean_pixel", "checksum", "n_frames", "sampled")
    for pdf in batches:
        out = {k: [] for k in cols}
        # Per-payload loop is irreducible here: each row is an
        # independent encoded container that must be sniffed + decoded
        # (exactly what a real corpus demands); Arrow still delivers
        # the rows to Python in vectorized batches.
        for doc_id, fmt, payload in zip(pdf["doc_id"], pdf["fmt"], pdf["payload"]):
            doc_id = int(doc_id)
            img = decode_image(bytes(payload))  # magic-byte dispatch, real decode
            out["doc_id"].append(doc_id)
            out["fmt"].append(str(fmt))
            out["width"].append(img.shape[1])
            out["height"].append(img.shape[0])
            out["channels"].append(img.shape[2])
            out["decoded_bytes"].append(int(img.size))
            out["mean_pixel"].append(round(float(img.mean()), 3))
            out["checksum"].append(int(img.astype(np.int64).sum() % 997))
            # Stride-2 frame sampling over the synthetic per-doc frame
            # count (video decode stays stubbed — no ffmpeg in the
            # container; the sampling plumbing is the tested part).
            n_frames = doc_id % 7 + 1
            out["n_frames"].append(n_frames)
            out["sampled"].append(
                ",".join(str(i) for i in range(0, n_frames, 2))
            )
        yield pd.DataFrame(out)


def multimodal_decode_meta(spark, sf_dir):
    """Heterogeneous-format binary decode + metadata extraction through
    the real Arrow/pandas + codec-dispatch path, over the pre-landed
    payload table (decode only in the timed path — synthesis/encode is
    fixture work a real corpus never pays; see ``payload_table``). The
    oracle computes the same values in closed form (lossless codecs,
    flat fills)."""
    payloads = payload_table(spark, sf_dir)
    # The decode stage is CPU-bound Python; a small parquet read may
    # arrive as one file-block partition, serializing it. Spread the
    # input across the cores explicitly — the same sizing a real corpus
    # needs when scan granularity != decode cost.
    return (
        payloads.repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_decode_meta_batches, schema=META_SCHEMA)
    )


ORACLE_DECODE_META = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'rawi' WHEN 1 THEN 'png' ELSE 'webp' END AS fmt,
       (n_chars % 64 + 16)::INT AS width,
       ((doc_id * 7) % 48 + 16)::INT AS height,
       3::INT AS channels,
       ((n_chars % 64 + 16) * ((doc_id * 7) % 48 + 16) * 3)::BIGINT AS decoded_bytes,
       round((doc_id % 251) * 1.0, 3) AS mean_pixel,
       (((n_chars % 64 + 16) * ((doc_id * 7) % 48 + 16) * 3 * (doc_id % 251)) % 997)::BIGINT AS checksum,
       (doc_id % 7 + 1)::INT AS n_frames,
       array_to_string([i for i in range(0, (doc_id % 7 + 1)::INT, 2)], ',') AS sampled
FROM documents
"""


QUERIES = {"multimodal_decode_meta": multimodal_decode_meta}

ORACLES = {"multimodal_decode_meta": ORACLE_DECODE_META}
