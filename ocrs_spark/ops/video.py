"""Video-column processing with a REAL from-spec decoder: uncompressed
AVI (RIFF 'AVI ' container, BI_RGB 24-bit DIB frames) parse +
frame-sampling features over ``mapInPandas`` — upgrading the
multimodal video leg from a stub the same way ops/audio.py upgraded
audio. Perceptual codecs (H.264/VP9/AV1) stay out of scope in this
container; uncompressed AVI is what a decode-once-then-process corpus
stage holds anyway.

The decoder earns "from-spec" on three genuine format traps:
  * nested LIST walking (RIFF > LIST hdrl > avih + LIST strl > strh/
    strf, RIFF > LIST movi > 00db frames) with word-alignment pads;
  * DIB ROW STRIDE — each pixel row pads to a 4-byte boundary, and
    frame widths are chosen so pad widths 0-3 ALL occur across docs;
  * DIB rows are stored BOTTOM-UP — the decoder flips to natural
    order (unobservable on the flat oracle fills, so a unit test
    decodes a hand-built gradient frame to pin the flip).

Payloads synthesize deterministically: doc_id picks width (16-19 px,
sweeping all stride pads), 8 rows, n_frames = 4 + doc_id % 12, frame
period from {30, 25, 23.98} fps by doc_id % 3, and frame f is a flat
BGR fill of ((doc_id*31 + f*7) % 256) — flat fills keep every feature
in closed form for the DuckDB oracle (which recomputes from the
generating rule, never touching bytes) while the Spark side does a
full container + DIB parse per frame.

Features (all integers): width, height, n_frames, fps_milli (from
avih's microseconds-per-frame), and a sampled-frame digest
sum(1000*f + fill_f) over every SAMPLE_K-th frame — the frame-sample
shape a training pipeline feeds to a captioner.

Scale: payloads materialize once per (session, sf_dir); decode is one
Arrow-batched ``mapInPandas`` over repartitioned binary rows.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from . import derived_table

FILL_A = 31
FILL_B = 7
SAMPLE_K = 3
HEIGHT = 8
_USEC = (33333, 40000, 41708)  # ~30 / 25 / 23.98 fps

VIDEO_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, fps_milli "
    "bigint, sampled_frames int, sample_digest bigint"
)


def _dims(doc_id: int) -> tuple[int, int]:
    return 16 + (doc_id % 4), HEIGHT  # widths 16..19: stride pads 0..3


def _n_frames(doc_id: int) -> int:
    return 4 + (doc_id % 12)


def _usec_per_frame(doc_id: int) -> int:
    return _USEC[doc_id % 3]


def _fill(doc_id: int, f: int) -> int:
    return (doc_id * FILL_A + f * FILL_B) % 256


def _stride(w: int) -> int:
    return ((3 * w + 3) // 4) * 4


def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def _list(kind: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", kind + body)


def encode_avi(doc_id: int) -> bytes:
    """Minimal-but-conformant uncompressed AVI: avih + one video
    stream (strh/strf BI_RGB 24) + movi with one 00db DIB per frame
    (bottom-up rows, 4-byte stride)."""
    w, h = _dims(doc_id)
    n = _n_frames(doc_id)
    usec = _usec_per_frame(doc_id)
    stride = _stride(w)
    avih = struct.pack(
        "<14I", usec, 0, 0, 0, n, 0, 1, 0, w, h, 0, 0, 0, 0
    )
    strh = b"vids" + b"DIB " + struct.pack(
        "<IHHIIIIIIIII", 0, 0, 0, 0, usec, 1_000_000, 0, n, 0, 0, 0, 0
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    frames = b""
    for f in range(n):
        row = bytes([_fill(doc_id, f)]) * (3 * w) + b"\x00" * (stride - 3 * w)
        frames += _chunk(b"00db", row * h)
    movi = _list(b"movi", frames)
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def _walk(buf: bytes, pos: int, end: int):
    """Yield (cid, list_kind_or_None, body_start, body_size) honoring
    RIFF word alignment."""
    while pos + 8 <= end:
        cid = buf[pos : pos + 4]
        sz = struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
        if pos + 8 + sz > end:
            raise ValueError("truncated RIFF chunk")
        if cid == b"LIST":
            yield cid, buf[pos + 8 : pos + 12], pos + 12, sz - 4
        else:
            yield cid, None, pos + 8, sz
        pos += 8 + sz + (sz & 1)


def decode_avi(buf: bytes):
    """(width, height, usec_per_frame, frames) — frames as a list of
    HxWx3 uint8 arrays in natural top-down row order."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI buffer")
    w = h = usec = None
    frames = []
    for cid, kind, start, sz in _walk(buf, 12, len(buf)):
        if kind == b"hdrl":
            for c2, k2, s2, z2 in _walk(buf, start, start + sz):
                if c2 == b"avih":
                    vals = struct.unpack("<14I", buf[s2 : s2 + 56])
                    usec, w, h = vals[0], vals[8], vals[9]
                elif k2 == b"strl":
                    for c3, _, s3, z3 in _walk(buf, s2, s2 + z2):
                        if c3 == b"strf":
                            bi = struct.unpack("<IiiHH", buf[s3 : s3 + 16])
                            if bi[4] != 24:
                                raise ValueError("only BI_RGB 24 supported")
                            if (bi[1], bi[2]) != (w, h):
                                raise ValueError("strf/avih dimension clash")
        elif kind == b"movi":
            if w is None:
                raise ValueError("movi before hdrl")
            stride = _stride(w)
            for c2, _, s2, z2 in _walk(buf, start, start + sz):
                if c2 == b"00db":
                    if z2 != stride * h:
                        raise ValueError("frame size mismatch")
                    raw = np.frombuffer(
                        buf[s2 : s2 + z2], dtype=np.uint8
                    ).reshape(h, stride)[:, : 3 * w]
                    # DIB rows are bottom-up: flip to natural order.
                    frames.append(
                        raw.reshape(h, w, 3)[::-1].copy()
                    )
    if w is None or usec is None or not frames:
        raise ValueError("missing hdrl/avih or movi frames")
    return w, h, usec, frames


def _avi_payloads(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "avi_payloads", ("doc_id",),
        "doc_id bigint, payload binary", encode_avi,
    )


def video_avi_features(spark, sf_dir: str):
    """(doc_id, width, height, n_frames, fps_milli, sampled_frames,
    sample_digest) — decoded from the AVI bytes, never the
    generator; the digest folds each SAMPLE_K-th frame's measured
    flat fill."""
    payloads = _avi_payloads(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                w, h, usec, frames = decode_avi(bytes(buf))
                digest = 0
                sampled = 0
                for f in range(0, len(frames), SAMPLE_K):
                    fr = frames[f]
                    lo, hi = int(fr.min()), int(fr.max())
                    if lo != hi:
                        raise ValueError("non-flat frame")
                    digest += 1000 * f + lo
                    sampled += 1
                out.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        len(frames),
                        1_000_000_000 // usec,
                        sampled,
                        digest,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_frames",
                    "fps_milli",
                    "sampled_frames",
                    "sample_digest",
                ],
            )

    return payloads.repartition(cores).mapInPandas(
        extract, schema=VIDEO_SCHEMA
    )


ORACLE_AVI = f"""
WITH meta AS (
  SELECT doc_id,
         (16 + (doc_id % 4))::INT AS width,
         {HEIGHT}::INT AS height,
         (4 + (doc_id % 12))::INT AS n_frames,
         (1000000000 // (CASE doc_id % 3
             WHEN 0 THEN {_USEC[0]} WHEN 1 THEN {_USEC[1]}
             ELSE {_USEC[2]} END))::BIGINT AS fps_milli
  FROM documents
),
fr AS (
  SELECT doc_id, width, height, n_frames, fps_milli,
         unnest(range(n_frames)) AS f
  FROM meta
),
sampled AS (
  SELECT doc_id, f,
         (1000 * f + (doc_id * {FILL_A} + f * {FILL_B}) % 256)::BIGINT
           AS term
  FROM fr WHERE f % {SAMPLE_K} = 0
)
SELECT m.doc_id, m.width, m.height, m.n_frames, m.fps_milli,
       count(s.f)::INT AS sampled_frames,
       sum(s.term)::BIGINT AS sample_digest
FROM meta m JOIN sampled s USING (doc_id)
GROUP BY m.doc_id, m.width, m.height, m.n_frames, m.fps_milli
"""


QUERIES = {"video_avi_features": video_avi_features}
ORACLES = {"video_avi_features": ORACLE_AVI}
