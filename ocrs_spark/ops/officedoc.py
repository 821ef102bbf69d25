"""Office-document (DOCX-shaped) text extraction: a from-spec ZIP
container reader/writer (PKZIP local file headers, central directory,
end-of-central-directory record, CRC-32 verified per member) plus
WordprocessingML text-run extraction — the extraction leg for the
office documents every web crawl contains (DOCX/XLSX/EPUB are all ZIP
archives of XML).

Each document synthesizes a minimal-but-structurally-real .docx:
``[Content_Types].xml`` and ``word/document.xml`` stored (method 0)
with correct CRCs, the central directory pointing back at both local
headers, and the EOCD closing the archive. document.xml splits the
document text into one ``<w:p><w:r><w:t>...`` paragraph per sentence
chunk, with XML entity escaping for the five specials.

The reader walks the CENTRAL DIRECTORY (the spec's source of truth —
never the local headers alone), seeks each local header, re-verifies
the member CRC-32, and the extractor pulls ``<w:t>`` runs with
entity unescaping and rejoins paragraphs — returning text EQUAL to
the original document text (the oracle compares the md5 of the
round-tripped text against the source column, plus structural
accounting).

Scale: payloads materialize once; extraction is one Arrow-batched
``mapInPandas``; at 100 TB members stream by central-directory
offsets with O(members) index memory, not O(archive).
"""

from __future__ import annotations

import re
import struct
import zlib
from typing import Iterator

import pandas as pd

from . import derived_table

PARA_CHARS = 40  # split source text into paragraphs of ~this size

OFFICE_SCHEMA = (
    "doc_id bigint, n_members int, n_paragraphs int, n_chars bigint, "
    "text_roundtrip_md5 string"
)


def _escape(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&apos;")
    )


def _unescape(s: str) -> str:
    return (
        s.replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&apos;", "'")
        .replace("&amp;", "&")
    )


def _document_xml(text: str) -> bytes:
    paras = [
        text[i : i + PARA_CHARS] for i in range(0, len(text), PARA_CHARS)
    ] or [""]
    body = "".join(
        f"<w:p><w:r><w:t xml:space=\"preserve\">{_escape(p)}</w:t></w:r></w:p>"
        for p in paras
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + body
        + "</w:body></w:document>"
    ).encode("utf-8")


_CONTENT_TYPES = (
    b'<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.'
    b'org/package/2006/content-types"><Default Extension="xml" '
    b'ContentType="application/xml"/></Types>'
)


def zip_write(members: list[tuple[str, bytes]]) -> bytes:
    """Stored (method 0) PKZIP archive with correct per-member CRC-32,
    a full central directory, and the EOCD record."""
    out = bytearray()
    central = bytearray()
    for name, data in members:
        nb = name.encode("ascii")
        crc = zlib.crc32(data) & 0xFFFFFFFF
        off = len(out)
        out += struct.pack(
            "<IHHHHHIIIHH", 0x04034B50, 20, 0, 0, 0, 0, crc,
            len(data), len(data), len(nb), 0,
        )
        out += nb + data
        central += struct.pack(
            "<IHHHHHHIIIHHHHHII", 0x02014B50, 20, 20, 0, 0, 0, 0, crc,
            len(data), len(data), len(nb), 0, 0, 0, 0, 0, off,
        )
        central += nb
    cd_off = len(out)
    out += central
    out += struct.pack(
        "<IHHHHIIH", 0x06054B50, 0, 0, len(members), len(members),
        len(central), cd_off, 0,
    )
    return bytes(out)


def zip_read(buf: bytes) -> list[tuple[str, bytes]]:
    """Walk the central directory (located via EOCD), seek each local
    header, verify CRC-32. Stored members only (the archives this
    corpus writes); compressed members raise."""
    eocd_at = buf.rfind(b"PK\x05\x06")
    if eocd_at < 0:
        raise ValueError("missing EOCD")
    (_sig, _disk, _cdd, _nd, n_entries, _cd_size, cd_off, _cl) = (
        struct.unpack("<IHHHHIIH", buf[eocd_at : eocd_at + 22])
    )
    out = []
    pos = cd_off
    for _ in range(n_entries):
        if buf[pos : pos + 4] != b"PK\x01\x02":
            raise ValueError("bad central directory entry")
        (
            _sig, _vmade, _vneed, _flags, method, _t, _d, crc,
            csize, usize, nlen, elen, clen, _dn, _ia, _ea, lho,
        ) = struct.unpack("<IHHHHHHIIIHHHHHII", buf[pos : pos + 46])
        name = buf[pos + 46 : pos + 46 + nlen].decode("ascii")
        if method != 0:
            raise ValueError("only stored members supported")
        lnlen, lelen = struct.unpack("<HH", buf[lho + 26 : lho + 30])
        data_at = lho + 30 + lnlen + lelen
        data = buf[data_at : data_at + usize]
        if len(data) < usize:
            raise ValueError("truncated member")
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {name}")
        out.append((name, data))
        pos += 46 + nlen + elen + clen
    return out


_WT = re.compile(r"<w:t(?:\s[^>]*)?>(.*?)</w:t>", re.S)


def extract_docx_text(buf: bytes) -> tuple[int, int, str]:
    """(n_members, n_paragraphs, text) from a DOCX-shaped archive."""
    members = dict(zip_read(buf))
    xml = members["word/document.xml"].decode("utf-8")
    runs = _WT.findall(xml)
    return len(members), len(runs), "".join(_unescape(r) for r in runs)


def _docx(text: str) -> bytes:
    return zip_write(
        [
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("word/document.xml", _document_xml(text)),
        ]
    )


def _docx_payloads(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "docx_payloads", ("text",),
        "doc_id bigint, payload binary", _docx,
    )


def docx_text_extraction(spark, sf_dir: str):
    """(doc_id, n_members, n_paragraphs, n_chars, text_roundtrip_md5)
    — extracted through the real ZIP + XML path; the md5 column lets
    the oracle assert the round-tripped text EQUALS the source column
    without shipping the text twice."""
    payloads = _docx_payloads(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                n_members, n_paras, text = extract_docx_text(bytes(buf))
                out.append(
                    (
                        int(doc_id),
                        n_members,
                        n_paras,
                        len(text),
                        hashlib.md5(text.encode("utf-8")).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_members",
                    "n_paragraphs",
                    "n_chars",
                    "text_roundtrip_md5",
                ],
            )

    return payloads.repartition(cores).mapInPandas(
        extract, schema=OFFICE_SCHEMA
    )


ORACLE_DOCX = f"""
SELECT doc_id,
       2::INT AS n_members,
       greatest(1, (n_chars + {PARA_CHARS} - 1) // {PARA_CHARS})::INT
         AS n_paragraphs,
       n_chars::BIGINT AS n_chars,
       md5(text) AS text_roundtrip_md5
FROM documents
"""


QUERIES = {"docx_text_extraction": docx_text_extraction}
ORACLES = {"docx_text_extraction": ORACLE_DOCX}
