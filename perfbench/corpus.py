"""Seeded inputs for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed, so one seed gives the same bytes. The program under test only ever
sees what lands in parquet: a documents table
``(doc_id, spans array<struct<kind,text,media_ref,offset>>)`` and a media
table ``(media_ref, bytes)``. Spans are stored out of offset order on
purpose; the pipeline must restore the order.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ocrs_spark.codec import encode_png, encode_rlei
from ocrs_spark.gif import encode_gif
from ocrs_spark.jpeg import encode_jpeg
from ocrs_spark.pdf import encode_pdf

# Dense pages: the fake detection model runs at the page size, so the
# connected-component, layout and recognition kernels see every word.
PAGE_H, PAGE_W = 400, 800
PAGE_ENGINE = {"kind": "fake", "det_h": PAGE_H, "det_w": PAGE_W}
# Small reused images (logos, figures, thumbnails) in mixed documents.
THUMB_H, THUMB_W = 96, 192
THUMB_ENGINE = {"kind": "fake", "det_h": THUMB_H, "det_w": THUMB_W}

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])
MEDIA_SCHEMA = pa.schema([("media_ref", pa.string()), ("bytes", pa.binary())])

VOCAB = (
    "the quick brown fox jumps over a lazy dog while spark shuffles arrow "
    "batches across executors and weaves spans back in order page figure "
    "table caption scan archive crawl corpus token"
).split()


def word_image(rng, h: int, w: int, n_words: int, word_h=(12, 20), word_w=(24, 56)):
    """Black greyscale image with ``n_words`` white word boxes laid out in
    rows; box sizes and gaps are jittered so every image is unique."""
    img = np.zeros((h, w), dtype=np.uint8)
    placed = 0
    top = int(rng.integers(6, 14))
    while placed < n_words and top + word_h[1] < h:
        bh = int(rng.integers(*word_h))
        left = int(rng.integers(4, 16))
        while placed < n_words:
            bw = int(rng.integers(*word_w))
            if left + bw >= w - 4:
                break
            img[top : top + bh, left : left + bw] = 255
            placed += 1
            left += bw + int(rng.integers(12, 22))
        top += word_h[1] + int(rng.integers(14, 22))
    return img


def colour_gif(rng) -> bytes:
    """A GIF whose palette is not grey, so it decodes to RGB."""
    img = word_image(rng, 32, 64, 2, word_h=(8, 12), word_w=(12, 20))
    out = bytearray(encode_gif(img))
    for i in range(256):  # global colour table starts after the 13-byte header
        out[13 + 3 * i : 16 + 3 * i] = bytes([i, (i * 7) % 256, 255 - i])
    return bytes(out)


def undecodable(rng, kind: int) -> bytes:
    """Bytes no decoder accepts: a truncated PNG, a truncated RLEI, or
    bytes with no known magic."""
    img = word_image(rng, 64, 128, 3)
    if kind == 0:
        data = encode_png(img)
        return data[: len(data) // 3]
    if kind == 1:
        data = encode_rlei(img)
        return data[: len(data) // 2]
    return b"\x00JUNK" + rng.bytes(200)


def _encode(img: np.ndarray, fmt: str) -> bytes:
    if fmt == "rlei":
        return encode_rlei(img)
    if fmt == "png":
        return encode_png(img)
    if fmt == "gif":
        return encode_gif(img)
    return encode_jpeg(np.repeat(img[:, :, None], 3, axis=2), quality=90)


def _text(rng, lo=2, hi=8) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(lo, hi))))


def _docs_table(doc_ids, kinds, texts, refs, offsets, lengths) -> pa.Table:
    """Build the documents table from flat span columns grouped by doc
    (``lengths`` spans per doc, in the given storage order)."""
    list_offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    spans = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(refs, pa.string()),
            pa.array(offsets, pa.int32()),
        ],
        fields=list(SPAN_TYPE),
    )
    return pa.Table.from_arrays(
        [pa.array(doc_ids, pa.string()), pa.ListArray.from_arrays(list_offsets, spans)],
        schema=DOCS_SCHEMA,
    )


def born_digital(rng, n_pdf: int, n_html: int) -> list[tuple[str, str, bytes, str]]:
    """PDFs and HTML pages as (kind, media_ref, payload, text) with the
    text the pipeline must extract from each."""
    out = []
    for i in range(n_pdf):
        lines = [_text(rng, 3, 10) for _ in range(int(rng.integers(2, 12)))]
        out.append(("pdf", f"pdf-{i:05d}", encode_pdf(lines), "\n".join(lines)))
    for i in range(n_html):
        body = _text(rng, 12, 30)
        nav = " ".join(f"<a href='/{w}'>{w}</a>" for w in VOCAB[: int(rng.integers(3, 8))])
        page = (
            f"<html><head><title>page {i}</title></head><body><nav>{nav}</nav>"
            f"<article><p>{body}</p></article><footer>Copyright {2000 + i % 25}"
            "</footer></body></html>"
        )
        out.append(("html", f"html-{i:05d}", page.encode(), body))
    return out


def pages_corpus(rng, n_pages: int, n_bad: int, n_born_digital: int):
    """``ocr_pages``: unique dense pages, each referenced by exactly one
    image span; docs hold 1-4 pages and at most one text span. Word counts
    are spread evenly over 20-120, half the pages are RLEI and half PNG,
    and ``n_bad`` evenly spaced pages are undecodable. All three follow
    the page's index, not the seed: Spark places a page by the hash of
    its ref, so every seed gives each task the same amount of work (with
    seeded densities the job time moved 30% between seeds on a 4-vCPU VM).
    The seed places the words and groups pages into documents.
    ``n_born_digital`` PDFs and as many HTML pages, one per document, let
    the traced run time those extractors here too; they cost well under 1%
    of the job.

    Returns (docs, media, planted, texts): ``planted`` maps media_ref to
    the reason that row is expected to fail, ``texts`` the PDF and HTML
    refs to their text."""
    refs, payloads, planted = [], [], {}
    words = np.linspace(20, 120, n_pages).round().astype(int)
    bad_every = n_pages // n_bad
    for p in range(n_pages):
        ref = f"page-{p:05d}"
        if p % bad_every == bad_every // 2:
            payloads.append(undecodable(rng, p % 3))
            planted[ref] = "undecodable"
        else:
            img = word_image(rng, PAGE_H, PAGE_W, int(words[p]))
            payloads.append(_encode(img, ("rlei", "png")[p % 2]))
        refs.append(ref)
    # Documents of 1, 2, 3 and 4 pages in turn, shuffled: the document
    # count, and so docs_per_s, does not move with the seed.
    sizes = np.resize(np.arange(1, 5), n_pages)
    sizes = sizes[: int(np.searchsorted(np.cumsum(sizes), n_pages)) + 1]
    sizes[-1] -= sizes.sum() - n_pages
    kinds, texts, mrefs, offsets, lengths = [], [], [], [], []
    p = 0
    for k in rng.permutation(sizes):
        spans = [("image", None, refs[p + i]) for i in range(k)]
        if rng.random() < 0.3:
            spans.insert(int(rng.integers(0, k + 1)), ("text", _text(rng), None))
        order = rng.permutation(len(spans))  # storage order != offset order
        for o in order:
            kind, text, ref = spans[o]
            kinds.append(kind)
            texts.append(text)
            mrefs.append(ref)
            offsets.append(int(o))
        lengths.append(len(spans))
        p += k
    born = born_digital(rng, n_born_digital, n_born_digital)
    for kind, ref, payload, _ in born:
        kinds.append(kind)
        texts.append(None)
        mrefs.append(ref)
        offsets.append(0)
        lengths.append(1)
        refs.append(ref)
        payloads.append(payload)
    docs = _docs_table([f"pdoc-{i:05d}" for i in range(len(lengths))], kinds, texts, mrefs, offsets, lengths)
    media = pa.Table.from_arrays([pa.array(refs), pa.array(payloads, pa.binary())], schema=MEDIA_SCHEMA)
    return docs, media, planted, {ref: text for _, ref, _, text in born}


def mixed_media(rng, n_images: int, n_pdf: int, n_html: int, n_bad: int, n_colour_gif: int):
    """Media for the mixed workloads: small images in four formats, PDFs,
    HTML pages, and planted bad payloads (undecodable bytes and
    colour-palette GIFs). Returns (media table, refs by kind, planted,
    text of each PDF and HTML payload).

    Media refs are names fixed by index, not by seed: Spark places a
    media row by the hash of its ref, so every seed puts the same refs in
    the same Arrow batch as a planted payload, and a batch-wide failure
    hits the same share of rows whatever the seed."""
    refs = {"image": [], "bad": [], "pdf": [], "html": []}
    rows_ref, rows_bytes, planted, texts = [], [], {}, {}
    formats = ("rlei", "png", "gif", "jpeg")
    for i in range(n_images):  # word count and format follow the index, as for pages
        img = word_image(rng, THUMB_H, THUMB_W, i // 4 % 8 + 1)
        ref = f"img-{i:05d}"
        rows_ref.append(ref)
        rows_bytes.append(_encode(img, formats[i % 4]))
        refs["image"].append(ref)
    for i in range(n_bad + n_colour_gif):
        ref = f"bad-{i:03d}"
        rows_ref.append(ref)
        if i < n_bad:
            rows_bytes.append(undecodable(rng, i % 3))
            planted[ref] = "undecodable"
        else:
            rows_bytes.append(colour_gif(rng))
            planted[ref] = "colour-palette GIF"
        refs["bad"].append(ref)
    for kind, ref, payload, text in born_digital(rng, n_pdf, n_html):
        rows_ref.append(ref)
        rows_bytes.append(payload)
        refs[kind].append(ref)
        texts[ref] = text
    media = pa.Table.from_arrays(
        [pa.array(rows_ref), pa.array(rows_bytes, pa.binary())], schema=MEDIA_SCHEMA
    )
    return media, refs, planted, texts


def _zipf_pick(rng, pool: list[str], n: int) -> np.ndarray:
    """``n`` draws from ``pool`` with a heavy head (rank^-1 popularity)."""
    w = 1.0 / np.arange(1, len(pool) + 1)
    idx = rng.choice(len(pool), n, p=w / w.sum())
    return np.asarray(pool, dtype=object)[rng.permutation(len(pool))][idx]


BAD_SHARE = 0.04  # of image spans, pointing at planted bad payloads
TAIL_SHARE = 0.002  # of documents, with 100-400 spans


def mixed_docs(rng, n_docs: int, refs: dict):
    """Interleaved documents with 1-12 spans each plus a heavy tail of
    documents with 100-400 spans. About 35% of spans are images (a fixed
    share of them point at planted bad payloads), 5% PDF and 5% HTML; the
    rest is text. Images are reused uniformly, PDFs and HTML pages with a
    heavy head."""
    lengths = rng.integers(1, 13, n_docs)
    tail = rng.random(n_docs) < TAIL_SHARE
    lengths[tail] = rng.integers(100, 401, int(tail.sum()))
    total = int(lengths.sum())
    doc_of = np.repeat(np.arange(n_docs), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    offsets = np.arange(total) - starts
    # Storage order: shuffle spans within each document.
    offsets = offsets[np.lexsort((rng.random(total), doc_of))]
    u = rng.random(total)
    kinds = np.where(u < 0.35, "image", np.where(u < 0.40, "pdf", np.where(u < 0.45, "html", "text")))
    mrefs = np.full(total, None, dtype=object)
    img = np.flatnonzero(kinds == "image")
    bad = rng.random(len(img)) < BAD_SHARE
    mrefs[img[~bad]] = np.asarray(refs["image"], dtype=object)[rng.integers(0, len(refs["image"]), int((~bad).sum()))]
    mrefs[img[bad]] = np.asarray(refs["bad"], dtype=object)[rng.integers(0, len(refs["bad"]), int(bad.sum()))]
    for kind in ("pdf", "html"):
        sel = kinds == kind
        mrefs[sel] = _zipf_pick(rng, refs[kind], int(sel.sum()))
    texts = np.full(total, None, dtype=object)
    is_text = np.flatnonzero(kinds == "text")
    pieces = np.asarray(VOCAB, dtype=object)
    n_words = rng.integers(2, 8, len(is_text))
    words = rng.integers(0, len(VOCAB), (len(is_text), 7))
    texts[is_text] = [" ".join(pieces[w[:k]]) for w, k in zip(words, n_words)]
    doc_ids = [f"doc-{i:07d}" for i in range(n_docs)]
    return _docs_table(doc_ids, kinds.tolist(), texts.tolist(), mrefs.tolist(), offsets, lengths)


def increments(rng, docs: pa.Table, n_increments: int, redeliver: float) -> list[pa.Table]:
    """Split ``docs`` into ``n_increments`` deliveries; every delivery after
    the first also carries ``redeliver`` x its size of already-delivered
    documents. A final delivery re-sends everything."""
    n = docs.num_rows
    bounds = np.linspace(0, n, n_increments + 1).astype(int)
    out = []
    for i in range(n_increments):
        fresh = np.arange(bounds[i], bounds[i + 1])
        k = min(int(len(fresh) * redeliver), bounds[i])
        old = rng.choice(bounds[i], k, replace=False) if k else np.array([], dtype=int)
        idx = np.concatenate((fresh, old))
        out.append(docs.take(pa.array(rng.permutation(idx))))
    out.append(docs)
    return out
