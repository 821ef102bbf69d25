"""PNG textual-metadata harvesting: extract ``tEXt`` chunks (the
spec's keyword\\0value latin-1 pairs — where alt-text, captions and
generator tags live in real crawls) from image payloads, CRC-checked,
without decoding the pixel data — the metadata-mining stage that feeds
image-caption training pairs when no surrounding HTML alt attribute
exists.

Payloads synthesize deterministically: a tiny from-spec PNG
(codec.encode_png) gets two tEXt chunks spliced in AFTER IHDR —
``Description`` = 'img <doc_id> cap <doc_id % 10>' and ``Software`` =
'ocrs_spark <doc_id % 3>' — each with a correct CRC32 over
type+payload, exactly as the spec requires. The extractor walks the
chunk stream (length/type/data/CRC), VERIFIES every CRC, collects
tEXt pairs, and reads width/height straight from IHDR — and the
unmodified pixel decoder (codec.decode_png) still decodes the spliced
file, proving the ancillary insertion is spec-clean.

Scale: payloads materialize once per (session, sf_dir); extraction is
one Arrow-batched ``mapInPandas`` that touches HEADERS ONLY (no
inflate, no unfilter) — at 100 TB the metadata pass reads a few
hundred bytes per image while the pixel path stays cold. The DuckDB
oracle recomputes every output from the generating rule.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from . import derived_table
from ..codec import decode_png, encode_png

META_SCHEMA = (
    "doc_id bigint, width int, height int, n_chunks int, description "
    "string, software string"
)


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def _text_chunk(keyword: str, value: str) -> bytes:
    return _chunk(b"tEXt", keyword.encode("latin-1") + b"\x00" + value.encode("latin-1"))


def _png_with_text(doc_id: int) -> bytes:
    w, h = 4 + doc_id % 3, 3
    img = np.full((h, w), doc_id % 256, dtype=np.uint8)
    base = encode_png(img)
    # Splice tEXt chunks after IHDR (8-byte signature + 25-byte IHDR).
    at = 8 + 25
    texts = _text_chunk(
        "Description", f"img {doc_id} cap {doc_id % 10}"
    ) + _text_chunk("Software", f"ocrs_spark {doc_id % 3}")
    return base[:at] + texts + base[at:]


def extract_png_text(buf: bytes):
    """(width, height, n_chunks, {keyword: value}) from the chunk
    stream, CRC-verified, pixels untouched."""
    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width, height, n, texts = 8, None, None, 0, {}
    while pos + 12 <= len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        ctype = buf[pos + 4 : pos + 8]
        payload = buf[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", buf[pos + 8 + length : pos + 12 + length]
        )
        if crc != zlib.crc32(ctype + payload) & 0xFFFFFFFF:
            raise ValueError(f"bad CRC in {ctype!r}")
        n += 1
        if ctype == b"IHDR":
            width, height = struct.unpack(">II", payload[:8])
        elif ctype == b"tEXt":
            k, _, v = payload.partition(b"\x00")
            texts[k.decode("latin-1")] = v.decode("latin-1")
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    return width, height, n, texts


def _png_payloads(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "png_text_payloads", ("doc_id",),
        "doc_id bigint, payload binary", _png_with_text,
    )


def png_text_metadata(spark, sf_dir: str):
    """(doc_id, width, height, n_chunks, description, software) — from
    the CRC-verified chunk walk, never the generator."""
    payloads = _png_payloads(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                w, h, n, texts = extract_png_text(bytes(buf))
                out.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        n,
                        texts.get("Description"),
                        texts.get("Software"),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_chunks",
                    "description",
                    "software",
                ],
            )

    return payloads.repartition(cores).mapInPandas(
        extract, schema=META_SCHEMA
    )


# encode_png emits IHDR + IDAT + IEND; the splice adds two tEXt chunks.
_N_CHUNKS = 5

ORACLE_PNG_TEXT = f"""
SELECT doc_id,
       (4 + doc_id % 3)::INT AS width,
       3::INT AS height,
       {_N_CHUNKS}::INT AS n_chunks,
       'img ' || doc_id::VARCHAR || ' cap ' || (doc_id % 10)::VARCHAR
         AS description,
       'ocrs_spark ' || (doc_id % 3)::VARCHAR AS software
FROM documents
"""




def _gif_payload(doc_id: int) -> bytes:
    import numpy as np

    from ..gif import encode_gif

    w, h = 5 + doc_id % 6, 4
    img = np.full((h, w), (doc_id * 17) % 256, dtype=np.uint8)
    return encode_gif(img, delay_cs=doc_id % 100)


def _gif_payloads(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "gif_payloads", ("doc_id",),
        "doc_id bigint, payload binary", _gif_payload,
    )


def gif_decode_meta(spark, sf_dir: str):
    """(doc_id, width, height, delay_cs, fill, decoded_px) — decoded
    through the full from-spec LZW path (ocrs_spark/gif.py), flat
    fills keeping every field rule-computable for the oracle."""
    payloads = _gif_payloads(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..gif import decode_gif

        for pdf in batches:
            out = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                grey, delay = decode_gif(bytes(buf))
                lo, hi = int(grey.min()), int(grey.max())
                if lo != hi:
                    raise ValueError("non-flat GIF frame")
                out.append(
                    (
                        int(doc_id),
                        grey.shape[1],
                        grey.shape[0],
                        delay,
                        lo,
                        grey.size,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "delay_cs",
                    "fill",
                    "decoded_px",
                ],
            )

    return payloads.repartition(cores).mapInPandas(
        extract,
        schema=(
            "doc_id bigint, width int, height int, delay_cs int, "
            "fill int, decoded_px bigint"
        ),
    )


ORACLE_GIF = """
SELECT doc_id,
       (5 + doc_id % 6)::INT AS width,
       4::INT AS height,
       (doc_id % 100)::INT AS delay_cs,
       ((doc_id * 17) % 256)::INT AS fill,
       ((5 + doc_id % 6) * 4)::BIGINT AS decoded_px
FROM documents
"""




def _agif_payload(doc_id: int) -> bytes:
    import numpy as np

    from ..gif import encode_gif_animated

    k = 2 + doc_id % 5
    frames = [
        np.full((3, 4), (doc_id * 23 + f * 11) % 256, dtype=np.uint8)
        for f in range(k)
    ]
    delays = [4 + (f % 3) for f in range(k)]
    return encode_gif_animated(frames, delays)


def _agif_payloads(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "agif_payloads", ("doc_id",),
        "doc_id bigint, payload binary", _agif_payload,
    )


def gif_animation_meta(spark, sf_dir: str):
    """(doc_id, n_frames, total_delay_cs, frame_digest) — every frame
    decoded through the full multi-frame LZW path; the digest folds
    each frame's measured flat fill with its index, the per-frame GCE
    delays sum from the parsed stream."""
    payloads = _agif_payloads(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..gif import decode_gif_frames

        for pdf in batches:
            out = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                frames = decode_gif_frames(bytes(buf))
                digest = 0
                total = 0
                for f, (delay, img) in enumerate(frames):
                    lo, hi = int(img.min()), int(img.max())
                    if lo != hi:
                        raise ValueError("non-flat GIF frame")
                    digest += 100 * f + lo
                    total += delay
                out.append((int(doc_id), len(frames), total, digest))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_frames",
                    "total_delay_cs",
                    "frame_digest",
                ],
            )

    return payloads.repartition(cores).mapInPandas(
        extract,
        schema=(
            "doc_id bigint, n_frames int, total_delay_cs bigint, "
            "frame_digest bigint"
        ),
    )


ORACLE_AGIF = """
WITH fr AS (
  SELECT doc_id, unnest(range(2 + doc_id % 5)) AS f
  FROM documents
)
SELECT doc_id,
       count(*)::INT AS n_frames,
       sum(4 + f % 3)::BIGINT AS total_delay_cs,
       sum(100 * f + (doc_id * 23 + f * 11) % 256)::BIGINT
         AS frame_digest
FROM fr GROUP BY doc_id
"""


QUERIES = {
    "png_text_metadata": png_text_metadata,
    "gif_decode_meta": gif_decode_meta,
    "gif_animation_meta": gif_animation_meta,
}
ORACLES = {
    "png_text_metadata": ORACLE_PNG_TEXT,
    "gif_decode_meta": ORACLE_GIF,
    "gif_animation_meta": ORACLE_AGIF,
}
