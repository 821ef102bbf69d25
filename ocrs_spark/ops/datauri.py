"""Inline data-URI image extraction: pull ``data:image/...;base64,``
payloads out of HTML, base64-decode them (stdlib), and run the bytes
through the SAME magic-byte image dispatch the OCR pipeline uses —
the step a crawl pipeline needs because inline images never appear in
the media-fetch ledger (there is no URL to fetch; the bytes live
inside the document), so an extraction pass that only follows
``src=http...`` references silently drops them.

Each document synthesizes an HTML page whose body embeds TWO data
URIs — a PNG (the tEXt-captioned one from ops/imagemeta, proving
metadata survives the base64 round trip) and a GIF (from-spec LZW,
ocrs_spark/gif.py) — among normal markup with distractor ``src=``
attributes that must NOT match. Extraction is regexp over the
attribute (quote-delimited, mime captured), then decode via
codec.decode_image.

Scale: one Arrow-batched ``mapInPandas`` over the once-materialized
HTML column; the regexp touches only the document string and the
decode touches only the embedded bytes — no join, no second corpus
scan for a separate media table.
"""

from __future__ import annotations

import base64
import re
from typing import Iterator

import pandas as pd

from . import derived_table

URI_SCHEMA = (
    "doc_id bigint, n_uris int, png_w int, png_h int, png_caption "
    "string, gif_w int, gif_fill int"
)

_DATA_URI = re.compile(
    r"""src=["']data:(image/[a-z]+);base64,([A-Za-z0-9+/=]+)["']"""
)


def _page(doc_id: int) -> str:
    from .imagemeta import _png_with_text

    from ..gif import encode_gif
    import numpy as np

    png = base64.b64encode(_png_with_text(doc_id)).decode()
    gif = base64.b64encode(
        encode_gif(
            np.full((4, 6 + doc_id % 4), (doc_id * 29) % 256, np.uint8)
        )
    ).decode()
    return (
        f"<html><body><h1>Doc {doc_id}</h1>"
        '<img src="https://cdn.example/fetched.png">'
        f'<img src="data:image/png;base64,{png}" alt="inline">'
        "<p>some text between images</p>"
        f"<img src='data:image/gif;base64,{gif}'>"
        '<a href="data:text/plain;base64,aGk=">not an image</a>'
        "</body></html>"
    )


def _pages(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "data_uri_pages", ("doc_id",),
        "doc_id bigint, html string", _page,
    )


def data_uri_images(spark, sf_dir: str):
    """(doc_id, n_uris, png_w, png_h, png_caption, gif_w, gif_fill) —
    every embedded image decoded through codec.decode_image; the PNG's
    tEXt caption must survive base64 + HTML embedding."""
    pages = _pages(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codec import decode_image
        from .imagemeta import extract_png_text

        for pdf in batches:
            out = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                found = _DATA_URI.findall(html)
                png_w = png_h = gif_w = gif_fill = -1
                caption = ""
                for mime, b64 in found:
                    raw = base64.b64decode(b64)
                    arr = decode_image(raw)
                    if mime == "image/png":
                        png_w, png_h, _, texts = extract_png_text(raw)
                        caption = texts.get("Description", "")
                    elif mime == "image/gif":
                        gif_w = arr.shape[1]
                        gif_fill = int(arr[0, 0, 0])
                out.append(
                    (
                        int(doc_id),
                        len(found),
                        png_w,
                        png_h,
                        caption,
                        gif_w,
                        gif_fill,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_uris",
                    "png_w",
                    "png_h",
                    "png_caption",
                    "gif_w",
                    "gif_fill",
                ],
            )

    return pages.repartition(cores).mapInPandas(extract, schema=URI_SCHEMA)


ORACLE_DATA_URI = """
SELECT doc_id,
       2::INT AS n_uris,
       (4 + doc_id % 3)::INT AS png_w,
       3::INT AS png_h,
       'img ' || doc_id::VARCHAR || ' cap ' || (doc_id % 10)::VARCHAR
         AS png_caption,
       (6 + doc_id % 4)::INT AS gif_w,
       ((doc_id * 29) % 256)::INT AS gif_fill
FROM documents
"""


QUERIES = {"data_uri_images": data_uri_images}
ORACLES = {"data_uri_images": ORACLE_DATA_URI}
