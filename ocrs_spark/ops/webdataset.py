"""WebDataset-style TAR shard ingestion: parse POSIX ustar archives —
THE container format multimodal training pipelines stream samples
from (a .tar whose members group into samples by basename stem) —
entirely from spec, stdlib-only, with every header CHECKSUM verified.

Each document synthesizes a two-member shard (``<key>.txt`` holding
the document text, ``<key>.json`` a small sidecar, key = zero-padded
doc_id — the WebDataset sample-grouping convention), written with
real ustar headers: 512-byte blocks, octal size fields, the checksum
computed over the header WITH THE CHKSUM FIELD BLANKED TO SPACES
(the spec detail naive writers get wrong), 512-padding per member,
and the two-zero-block terminator.

The reader walks blocks, re-verifies every checksum, groups members
by stem, and reports byte accounting the DuckDB oracle recomputes in
closed form from ``n_chars`` (the driver corpus guarantees
len(text) == n_chars, ASCII — asserted in pytest).

Scale: at 100 TB, shards stream member-by-member with O(1) memory
(the walker never materializes the archive); here the per-doc shard
is one row through an Arrow-batched ``mapInPandas`` over the
once-materialized payload column.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from . import derived_table

BLOCK = 512

WDS_SCHEMA = (
    "doc_id bigint, sample_key string, n_members int, txt_bytes bigint, "
    "json_bytes bigint, archive_bytes bigint"
)


def _header(name: str, size: int) -> bytes:
    h = bytearray(BLOCK)
    h[0:100] = name.encode("ascii").ljust(100, b"\x00")
    h[100:108] = b"0000644\x00"  # mode
    h[108:116] = b"0000000\x00"  # uid
    h[116:124] = b"0000000\x00"  # gid
    h[124:136] = f"{size:011o}".encode("ascii") + b"\x00"
    h[136:148] = b"00000000000\x00"  # mtime
    h[148:156] = b" " * 8  # chksum field blanked to spaces
    h[156:157] = b"0"  # typeflag: regular file
    h[257:263] = b"ustar\x00"
    h[263:265] = b"00"
    chksum = sum(h)
    h[148:156] = f"{chksum:06o}".encode("ascii") + b"\x00 "
    return bytes(h)


def _member(name: str, content: bytes) -> bytes:
    pad = (-len(content)) % BLOCK
    return _header(name, len(content)) + content + b"\x00" * pad


def _shard(doc_id: int, text: str) -> bytes:
    key = f"{doc_id:08d}"
    return (
        _member(f"{key}.txt", text.encode("ascii"))
        + _member(f"{key}.json", b'{"id": %d}' % doc_id)
        + b"\x00" * (2 * BLOCK)
    )


def parse_tar(buf: bytes):
    """Yield (name, content) members, verifying every ustar header
    checksum; stops at the zero-block terminator."""
    pos = 0
    while pos + BLOCK <= len(buf):
        h = buf[pos : pos + BLOCK]
        if h == b"\x00" * BLOCK:
            return
        stored = int(h[148:156].split(b"\x00")[0].strip() or b"0", 8)
        blanked = h[:148] + b" " * 8 + h[156:]
        if sum(blanked) != stored:
            raise ValueError("ustar header checksum mismatch")
        if h[257:262] != b"ustar":
            raise ValueError("not a ustar header")
        name = h[0:100].rstrip(b"\x00").decode("ascii")
        size = int(h[124:136].split(b"\x00")[0].strip(), 8)
        content = buf[pos + BLOCK : pos + BLOCK + size]
        if len(content) < size:
            raise ValueError("truncated tar member")
        yield name, content
        pos += BLOCK + size + ((-size) % BLOCK)


def _shard_payloads(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "wds_shards", ("doc_id", "text"),
        "doc_id bigint, payload binary", _shard,
    )


def webdataset_ingest(spark, sf_dir: str):
    """(doc_id, sample_key, n_members, txt_bytes, json_bytes,
    archive_bytes) — parsed and checksum-verified from the tar bytes,
    grouped into WebDataset samples by basename stem."""
    payloads = _shard_payloads(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(buf)
                samples: dict[str, dict[str, int]] = {}
                for name, content in parse_tar(buf):
                    stem, _, ext = name.rpartition(".")
                    samples.setdefault(stem, {})[ext] = len(content)
                if len(samples) != 1:
                    raise ValueError("expected one sample per shard")
                (key, exts), = samples.items()
                out.append(
                    (
                        int(doc_id),
                        key,
                        len(exts),
                        exts.get("txt", -1),
                        exts.get("json", -1),
                        len(buf),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "sample_key",
                    "n_members",
                    "txt_bytes",
                    "json_bytes",
                    "archive_bytes",
                ],
            )

    return payloads.repartition(cores).mapInPandas(
        extract, schema=WDS_SCHEMA
    )


# archive = 2 headers + padded txt + padded json + 2 zero blocks;
# padded(n) = ceil(n/512)*512; json = '{"id": N}' = 9 + len(str(N)) - 1
# ... precisely 8 + len(str(N)) chars: '{"id": ' (7) + digits + '}' (1).
ORACLE_WDS = f"""
WITH m AS (
  SELECT doc_id,
         lpad(doc_id::VARCHAR, 8, '0') AS sample_key,
         n_chars AS txt_bytes,
         (8 + length(doc_id::VARCHAR))::BIGINT AS json_bytes
  FROM documents
)
SELECT doc_id, sample_key, 2::INT AS n_members,
       txt_bytes::BIGINT AS txt_bytes, json_bytes,
       ({BLOCK} * 2
        + ((txt_bytes + {BLOCK} - 1) // {BLOCK}) * {BLOCK}
        + ((json_bytes + {BLOCK} - 1) // {BLOCK}) * {BLOCK}
        + {2 * BLOCK})::BIGINT AS archive_bytes
FROM m
"""


QUERIES = {"webdataset_ingest": webdataset_ingest}
ORACLES = {"webdataset_ingest": ORACLE_WDS}
