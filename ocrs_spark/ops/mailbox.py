"""Email/mbox ingestion: RFC 5322-style message parsing — header
block with FOLDED long headers (CRLF + leading whitespace
continuation, the unfolding rule naive splitters corrupt) and a
quoted-printable body (=XX hex escapes + "=\\r\\n" soft line breaks,
RFC 2045) — the extraction leg for mailing-list archives, a classic
LLM corpus source (public technical lists, usenet dumps).

Each document synthesizes one message: a Subject deliberately folded
across two lines, X-Doc-Id, a Content-Transfer-Encoding: quoted-
printable header, and the document text QP-encoded with '=' escaped
and a soft break every 40 output characters. The parser splits
headers from body at the first blank line, UNFOLDS continuations,
decodes QP, and returns text equal to the source byte-for-byte (md5
oracle column, like ops/officedoc.py).

Scale: payloads materialize once; parsing is one Arrow-batched
``mapInPandas``; a real mbox shards by message boundary ("From "
separator lines) and streams — here one message per row is already
the post-split shape.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from . import derived_table

QP_WRAP = 40

MAIL_SCHEMA = (
    "doc_id bigint, subject string, x_doc_id bigint, n_headers int, "
    "body_chars bigint, body_md5 string"
)


def qp_encode(text: str) -> str:
    out = []
    line_len = 0
    for ch in text:
        tok = f"={ord(ch):02X}" if ch == "=" or not (32 <= ord(ch) < 127) else ch
        if line_len + len(tok) > QP_WRAP:
            out.append("=\r\n")
            line_len = 0
        out.append(tok)
        line_len += len(tok)
    return "".join(out)


def qp_decode(body: str) -> str:
    body = body.replace("=\r\n", "")  # soft breaks
    return re.sub(
        r"=([0-9A-F]{2})", lambda m: chr(int(m.group(1), 16)), body
    )


def _fold_subject(subject: str) -> str:
    # Fold at the existing space nearest the middle (RFC 5322 folds at
    # whitespace; unfolding removes ONLY the CRLF, keeping the WSP, so
    # the round trip is exact).
    mid = len(subject) // 2
    at = subject.rfind(" ", 0, mid)
    if at < 0:
        at = subject.find(" ")
    if at < 0:
        return subject
    return subject[:at] + "\r\n" + subject[at:]


def build_message(doc_id: int, source: str, text: str) -> str:
    subject = f"Msg {doc_id} about {source} corpus ingestion"
    return (
        f"Subject: {_fold_subject(subject)}\r\n"
        f"X-Doc-Id: {doc_id}\r\n"
        "MIME-Version: 1.0\r\n"
        "Content-Type: text/plain; charset=us-ascii\r\n"
        "Content-Transfer-Encoding: quoted-printable\r\n"
        "\r\n" + qp_encode(text)
    )


def parse_message(raw: str) -> tuple[dict[str, str], str]:
    """(headers, decoded_body) with RFC unfolding: a CRLF immediately
    followed by WSP is a continuation of the previous header line."""
    head, sep, body = raw.partition("\r\n\r\n")
    if not sep:
        raise ValueError("no header/body separator")
    unfolded = re.sub(r"\r\n(?=[ \t])", "", head)
    headers: dict[str, str] = {}
    for line in unfolded.split("\r\n"):
        name, colon, value = line.partition(":")
        if not colon:
            raise ValueError(f"malformed header line: {line!r}")
        headers[name.strip()] = value.strip()
    enc = headers.get("Content-Transfer-Encoding", "7bit").lower()
    if enc == "quoted-printable":
        body = qp_decode(body)
    elif enc not in ("7bit", "8bit"):
        raise ValueError(f"unsupported encoding {enc}")
    return headers, body


def _mail_payloads(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "mail_payloads", ("doc_id", "source", "text"),
        "doc_id bigint, raw string", build_message,
    )


def mbox_ingest(spark, sf_dir: str):
    """(doc_id, subject, x_doc_id, n_headers, body_chars, body_md5) —
    parsed with unfolding + QP decode; subject must reassemble across
    the fold, body must equal the source text."""
    payloads = _mail_payloads(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["raw"]):
                headers, body = parse_message(raw)
                out.append(
                    (
                        int(doc_id),
                        headers["Subject"],
                        int(headers["X-Doc-Id"]),
                        len(headers),
                        len(body),
                        hashlib.md5(body.encode()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "subject",
                    "x_doc_id",
                    "n_headers",
                    "body_chars",
                    "body_md5",
                ],
            )

    return payloads.repartition(cores).mapInPandas(
        extract, schema=MAIL_SCHEMA
    )


ORACLE_MBOX = """
SELECT doc_id,
       'Msg ' || doc_id::VARCHAR || ' about ' || source
         || ' corpus ingestion' AS subject,
       doc_id::BIGINT AS x_doc_id,
       5::INT AS n_headers,
       n_chars::BIGINT AS body_chars,
       md5(text) AS body_md5
FROM documents
"""


QUERIES = {"mbox_ingest": mbox_ingest}
ORACLES = {"mbox_ingest": ORACLE_MBOX}
