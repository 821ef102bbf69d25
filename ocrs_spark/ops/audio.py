"""Audio-column processing with a REAL from-spec decoder: PCM WAV
(RIFF) parse + per-clip feature extraction over ``mapInPandas`` —
upgrading the multimodal audio leg from a stub to the same
stdlib-only-from-spec treatment the image codecs get (PNG/JPEG/WebP).
Perceptual codecs (MP3/AAC/Opus) stay out of scope in this container;
PCM WAV is the uncompressed interchange format a 100-TB audio corpus
lands in before feature extraction anyway.

Payload synthesis (deterministic, no external data): each document
carries a mono 16-bit PCM WAV whose samples follow the pure-integer
rule s_i = ((doc_id*2654435761 + i*40503) % 65536) - 32768, with a
per-doc sample rate (8/12/16 kHz by doc_id % 3) and length
(256 + (doc_id % 64)*16 samples). The encoder inserts a junk LIST
chunk with an ODD body size before ``data`` so the decoder's chunk
walker must honor RIFF's word-alignment padding rule to find the
samples at all.

The decoder recovers everything FROM THE BYTES (proper chunk walk:
fmt parse, unknown-chunk skip with pad, data extraction) while the
DuckDB oracle recomputes the identical features FROM THE GENERATING
RULE (unnest(range(n)) + lag window) — never touching bytes — so a
hash match proves the encode -> decode round trip bit-exactly.

All features are integers: duration_ms (floor), energy = sum(s^2) div
n, peak = max(|s|), zero_crossings (strict sign-change rule with 0
counted non-negative).

Scale: the payload table is MATERIALIZED once per (session, sf_dir)
(the fixture-encode cost never lands in the timed path); the decode
is one Arrow-batched ``mapInPandas`` over pre-partitioned binary
rows — the identical distribution shape as the OCR media kernels.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from . import derived_table

A_MUL = 2654435761
B_MUL = 40503

WAV_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples bigint, duration_ms "
    "bigint, energy bigint, peak bigint, zero_crossings bigint"
)


def _samples(doc_id: int) -> np.ndarray:
    n = 256 + (doc_id % 64) * 16
    i = np.arange(n, dtype=np.int64)
    return ((doc_id * A_MUL + i * B_MUL) % 65536 - 32768).astype(np.int64)


def _rate(doc_id: int) -> int:
    return 8000 + (doc_id % 3) * 4000


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Minimal-but-conformant RIFF/WAVE PCM16 mono encoder, plus a
    junk LIST chunk with an odd-sized body (RIFF requires the reader
    to skip sz + pad byte) ahead of ``data``."""
    data = samples.astype("<i2").tobytes()
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
    junk_body = b"INFOjunk!"  # 9 bytes: odd, so a pad byte follows
    junk = b"LIST" + struct.pack("<I", len(junk_body)) + junk_body + b"\x00"
    payload = fmt + junk + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WAVE" + payload


def decode_wav(buf: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, samples) from a PCM16 mono RIFF/WAVE buffer via a
    spec-correct chunk walk (word-aligned skip of unknown chunks)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE buffer")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        sz = struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
        body = buf[pos + 8 : pos + 8 + sz]
        if len(body) < sz:
            raise ValueError("truncated RIFF chunk")
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if (audio_fmt, channels, bits) != (1, 1, 16):
                raise ValueError("only PCM16 mono supported")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2").astype(np.int64)
        pos += 8 + sz + (sz & 1)  # RIFF word alignment
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return rate, data


def _wav(doc_id: int) -> bytes:
    return encode_wav(_samples(doc_id), _rate(doc_id))


def _wav_payloads(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "wav_payloads", ("doc_id",),
        "doc_id bigint, payload binary", _wav,
    )


def audio_wav_features(spark, sf_dir: str):
    """(doc_id, sample_rate, n_samples, duration_ms, energy, peak,
    zero_crossings) — decoded from the WAV bytes, never from the
    generator."""
    payloads = _wav_payloads(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = decode_wav(bytes(buf))
                n = len(s)
                nonneg = s >= 0
                out.append(
                    (
                        int(doc_id),
                        rate,
                        n,
                        (1000 * n) // rate,
                        int((s * s).sum()) // n,
                        int(np.abs(s).max()),
                        int((nonneg[1:] != nonneg[:-1]).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "sample_rate",
                    "n_samples",
                    "duration_ms",
                    "energy",
                    "peak",
                    "zero_crossings",
                ],
            )

    return payloads.repartition(cores).mapInPandas(extract, schema=WAV_SCHEMA)


ORACLE_WAV = f"""
WITH meta AS (
  SELECT doc_id,
         (8000 + (doc_id % 3) * 4000)::INT AS sample_rate,
         (256 + (doc_id % 64) * 16)::BIGINT AS n
  FROM documents
),
samples AS (
  SELECT doc_id, sample_rate, n, unnest(range(n)) AS i
  FROM meta
),
vals AS (
  SELECT doc_id, sample_rate, n, i,
         ((doc_id * {A_MUL} + i * {B_MUL}) % 65536 - 32768)::BIGINT AS s
  FROM samples
),
lagged AS (
  SELECT doc_id, sample_rate, n, s,
         lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM vals
)
SELECT doc_id,
       any_value(sample_rate) AS sample_rate,
       any_value(n) AS n_samples,
       ((1000 * any_value(n)) // any_value(sample_rate))::BIGINT
         AS duration_ms,
       (sum(s * s) // any_value(n))::BIGINT AS energy,
       max(abs(s))::BIGINT AS peak,
       sum(CASE WHEN prev IS NOT NULL
                     AND ((prev >= 0) <> (s >= 0)) THEN 1 ELSE 0 END)
         ::BIGINT AS zero_crossings
FROM lagged GROUP BY doc_id
"""


QUERIES = {"audio_wav_features": audio_wav_features}
ORACLES = {"audio_wav_features": ORACLE_WAV}
