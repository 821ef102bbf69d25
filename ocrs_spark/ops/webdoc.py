"""Web-document operators: main-content extraction (HTML boilerplate
strip via block-level link-density/text-density heuristics, the
jusText/Readability family) and passage-level dedup (rolling token-
window hashing, the "deduplicate repeated training passages" op).

Both are pure Catalyst expression plans — single scan, no Python in the
hot path; the only shuffle is the passage groupBy on md5 window hashes
(uniform keys by construction).

The synthetic corpus has no HTML, so the extraction row wraps each
document in a deterministic boilerplate template (nav/sidebar/footer
link blocks seeded by doc_id) and the DuckDB oracle is exact identity
recovery: ``SELECT doc_id, text AS main_text FROM documents``. The
extractor itself is generic — the unit tests drive it over handcrafted
nav-heavy, multi-paragraph, and link-list HTML it has never seen.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from . import derived_table, load_tables

# Block-level tags that end a content block; the split keeps each
# closing tag attached to its block via lookbehind, so anchor counting
# sees the full element.
_BLOCK_SPLIT_RE = (
    "(?<=</p>)|(?<=</nav>)|(?<=</footer>)|(?<=</div>)|(?<=</header>)"
    "|(?<=</ul>)|(?<=</aside>)|(?<=</title>)"
)
# jusText-style keep rule: enough plain words, and anchor text makes up
# less than a third of the block's characters (char-based density — a
# word-count ratio lets an all-links sidebar through once it has enough
# link words). The word floor stays low enough that half-paragraphs of
# the shortest (10-token) corpus docs survive.
MIN_BLOCK_WORDS = 4
MAX_LINK_DENSITY = 0.33


def main_content(html_df, html_col: str = "html"):
    """(doc_id, html) -> (doc_id, main_text): split into block elements,
    score each by word count and link density, keep content blocks,
    rejoin in document order. Entirely JVM-side expressions."""
    blocks = f"split({html_col}, '{_BLOCK_SPLIT_RE}')"
    # Tags deleted (not blanked): main text never contains tags, so
    # recovery is exact; boilerplate blocks are judged on their words.
    scored = (
        f"transform({blocks}, b -> named_struct("
        "'txt', trim(regexp_replace(b, '<[^>]*>', '')), "
        "'anchor_chars', length(array_join("
        "regexp_extract_all(b, '<a[^>]*>([^<]*)</a>', 1), ''))))"
    )
    kept = (
        f"filter({scored}, s -> "
        f"size(filter(split(s.txt, ' +'), w -> w != '')) >= {MIN_BLOCK_WORDS}"
        f" AND s.anchor_chars <= {MAX_LINK_DENSITY} * length(s.txt))"
    )
    joined = f"array_join(transform({kept}, s -> s.txt), ' ')"
    return html_df.select("doc_id", F.expr(joined).alias("main_text"))


def _synth_html():
    """Deterministic boilerplate wrapper, template variant by
    pmod(doc_id, 3): nav/footer link rows, a short title, a link-heavy
    sidebar or related-articles list, and the document text as one or
    two <p> blocks. Every boilerplate block is either short or
    link-dense, so a correct extractor must return exactly the original
    text."""
    toks = "split(text, ' ')"
    mid = f"cast(ceil(size({toks}) / 2) as int)"
    p_one = "concat('<p>', text, '</p>')"
    p_two = (
        f"concat('<p>', array_join(slice({toks}, 1, {mid}), ' '), '</p>'"
        f", '<p>', array_join(slice({toks}, {mid} + 1, size({toks})), ' '), '</p>')"
    )
    nav = (
        "'<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>"
        " <a href=\"/contact\">Contact</a></nav>'"
    )
    sidebar = (
        "'<aside><a href=\"/r1\">related article one</a>"
        " <a href=\"/r2\">related article two</a>"
        " <a href=\"/r3\">more from this site</a></aside>'"
    )
    footer = (
        "'<footer><a href=\"/terms\">Terms of use</a>"
        " <a href=\"/privacy\">Privacy policy</a>"
        " <a href=\"/cookies\">Cookie settings</a> copyright</footer>'"
    )
    title = "concat('<title>Doc ', doc_id, '</title>')"
    body = (
        f"CASE pmod(doc_id, 3) "
        f"WHEN 0 THEN concat({nav}, '<div class=\"main\">', {p_one}, '</div>', {footer}) "
        f"WHEN 1 THEN concat({nav}, {sidebar}, '<div class=\"main\">', {p_two}, '</div>', {footer}) "
        f"ELSE concat('<header>', {title}, '</header>', {p_one}, {sidebar}, {footer}) END"
    )
    return f"concat('<html><head>', {title}, '</head><body>', {body}, '</body></html>')"


def html_docs(spark, sf_dir):
    """documents wrapped in deterministic boilerplate HTML, landed to
    parquet once per (session, sf_dir) — a real corpus arrives as
    stored HTML, so the timed extraction query pays for the strip
    only, not for synthesizing its own fixture."""
    from ..matcache import materialize_once

    def build():
        (docs,) = load_tables(spark, sf_dir, "documents")
        return docs.select("doc_id", F.expr(_synth_html()).alias("html"))

    return materialize_once(spark, sf_dir, "html_docs", build)


def html_main_content(spark, sf_dir):
    """Boilerplate strip over the pre-landed HTML corpus; the oracle
    is exact recovery of the pre-wrap text."""
    return main_content(html_docs(spark, sf_dir))


ORACLE_MAIN_CONTENT = "SELECT doc_id, text AS main_text FROM documents"


# ---------------------------------------------------------------------------
# DOM-heuristic main-content extraction (ocrs_spark/dom.py): a real
# element tree + Readability-family class/id hints and subtree
# exclusion. Its corpus is deliberately harder than the expression
# extractor's: wordy link-FREE boilerplate (copyright disclaimers,
# comment sections) that defeats pure link-density rules, nested
# anchors, and attributes containing '>' that break tag-regex
# stripping. Parse is per-document independent — the plan is one scan
# + one Arrow mapInPandas stage, no shuffle, so it scales linearly
# with executors.
DOM_HTML_SCHEMA = "doc_id bigint, html string"
DOM_MAIN_SCHEMA = "doc_id bigint, main_text string"

_RICH_NAV = (
    '<nav class="site-menu"><a href="/"><span>Home</span></a> '
    '<a href="/about"><span>About us</span></a> '
    '<a href="/contact"><span>Contact the team</span></a></nav>'
)
_RICH_SIDEBAR = (
    '<div class="sidebar related"><p>You might also enjoy reading these '
    'hand picked stories from our archive</p>'
    '<a href="/r1">related article one</a> '
    '<a href="/r2">related article two</a></div>'
)
_RICH_COMMENTS = (
    '<div class="comments"><p>I strongly disagree with everything written '
    'in this article and demand an immediate correction</p>'
    '<p>Well said, I had exactly the same thought while reading it</p></div>'
)
_RICH_FOOTER = (
    '<footer><div class="copyright">All material on this site is provided '
    'without warranty of any kind and may not be reproduced without '
    'permission</div></footer>'
)


def _rich_html(doc_id: int, text: str, lang: str = "en") -> str:
    """Deterministic hard-boilerplate wrapper, variant by doc_id % 3.
    Every boilerplate block is either structurally negative (nav,
    footer), hint-negative (comments, related, copyright), or
    link-dense; the document text is the only kept content, so exact
    identity recovery is the correctness bar.

    The head carries deterministic structured metadata (description,
    OpenGraph, canonical link, JSON-LD) derived from the row, so the
    metadata extractor has an exact closed-form oracle. All of it is
    head-side void/script/title content the main-content legs drop, so
    the identity-recovery oracle is untouched."""
    import datetime as _dt
    import json as _json

    title = f"<title>Doc {doc_id}</title>"
    desc = " ".join(text.split(" ")[:6])
    published = (
        _dt.date(2024, 1, 1) + _dt.timedelta(days=int(doc_id) % 365)
    ).isoformat()
    jsonld_type = ("Article", "NewsArticle", "BlogPosting")[int(doc_id) % 3]
    head_meta = (
        f'{title}<meta name="description" content="{desc}">'
        f'<meta property="og:title" content="Doc {doc_id} | corpus">'
        f'<meta property="article:published_time" content="{published}">'
        f'<link rel="canonical" href="https://corpus.example/doc/{doc_id}">'
        f'<script type="application/ld+json">'
        + _json.dumps({"@type": jsonld_type, "headline": f"Doc {doc_id}"})
        + "</script>"
    )
    variant = doc_id % 3
    if variant == 0:
        body = (
            f'{_RICH_NAV}<article><div data-note="a > b" class="content">'
            f"<p>{text}</p></div></article>{_RICH_COMMENTS}{_RICH_FOOTER}"
        )
    elif variant == 1:
        toks = text.split(" ")
        mid = (len(toks) + 1) // 2
        body = (
            f"{_RICH_NAV}{_RICH_SIDEBAR}<main>"
            f'<p>{" ".join(toks[:mid])}</p><p>{" ".join(toks[mid:])}</p>'
            f"</main>{_RICH_FOOTER}"
        )
    else:
        body = (
            f"<header>{title}</header><section><p>{text}</p></section>"
            f"{_RICH_SIDEBAR}{_RICH_COMMENTS}{_RICH_FOOTER}"
        )
    return f'<html lang="{lang}"><head>{head_meta}</head><body>{body}</body></html>'


def rich_html_docs(spark, sf_dir):
    """documents wrapped in the hard-boilerplate template, landed to
    parquet once per (session, sf_dir) — the timed query pays for DOM
    parse + extraction only."""
    return derived_table(
        spark, sf_dir, "rich_html_docs", ("doc_id", "text", "lang"),
        DOM_HTML_SCHEMA, _rich_html,
    )


def _dom_extract_batches(batches):
    from ..dom import extract_main_content
    from ..malloc_tuning import pretouch_arena

    pretouch_arena(64)

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "main_text": [extract_main_content(h) for h in pdf["html"]],
            }
        )


def dom_main_content(spark, sf_dir):
    """DOM-tree boilerplate strip over the pre-landed hard corpus; the
    oracle is exact recovery of the pre-wrap text."""
    docs = rich_html_docs(spark, sf_dir)
    return docs.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        _dom_extract_batches, schema=DOM_MAIN_SCHEMA
    )


ORACLE_DOM_MAIN = "SELECT doc_id, text AS main_text FROM documents"


# ---------------------------------------------------------------------------
# Structured-metadata extraction (head-side complement of main content):
# title / lang / description / OpenGraph / canonical URL / publication
# date / JSON-LD type+headline per document, from the same tolerant DOM
# parse. Per-document independent -> one scan + one Arrow mapInPandas
# stage, no shuffle; at 100 TB it pipelines with the content strip.
HTML_META_SCHEMA = (
    "doc_id bigint, title string, lang string, description string, "
    "og_title string, published string, canonical_url string, "
    "jsonld_type string, jsonld_headline string"
)


def _meta_extract_batches(batches):
    from ..dom import extract_metadata

    for pdf in batches:
        metas = [extract_metadata(h) for h in pdf["html"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "title": [m["title"] for m in metas],
                "lang": [m["lang"] for m in metas],
                "description": [m["description"] for m in metas],
                "og_title": [m["og_title"] for m in metas],
                "published": [m["published"] for m in metas],
                "canonical_url": [m["canonical_url"] for m in metas],
                "jsonld_type": [m["jsonld_type"] for m in metas],
                "jsonld_headline": [m["jsonld_headline"] for m in metas],
            }
        )


def html_metadata(spark, sf_dir):
    """Structured metadata over the pre-landed hard HTML corpus; the
    oracle reconstructs every field closed-form from the source row."""
    docs = rich_html_docs(spark, sf_dir)
    return docs.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        _meta_extract_batches, schema=HTML_META_SCHEMA
    )


ORACLE_HTML_META = """
SELECT doc_id,
       'Doc ' || doc_id AS title,
       lang,
       array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS description,
       'Doc ' || doc_id || ' | corpus' AS og_title,
       strftime(DATE '2024-01-01' + CAST(doc_id % 365 AS INT), '%Y-%m-%d') AS published,
       'https://corpus.example/doc/' || doc_id AS canonical_url,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'Article'
            WHEN 1 THEN 'NewsArticle' ELSE 'BlogPosting' END AS jsonld_type,
       'Doc ' || doc_id AS jsonld_headline
FROM documents
"""


# ---------------------------------------------------------------------------
# Passage-level dedup: rolling W-token windows at a fixed stride, hashed
# and grouped — the scalable form of "find passages repeated across the
# corpus" (suffix arrays don't distribute; stride-windowed hashing does,
# with the shuffle bounded at tokens/stride rows per document).
PASSAGE_W = 12
PASSAGE_STRIDE = 5
# The synthetic corpus has no cross-document repeats, so BOTH engines
# plant deterministic ones (the planted_embeddings pattern): a copy of
# the first PLANT_TOKENS tokens of each low-id long-enough doc as a new
# doc at id + PLANT_ID_OFFSET. Window starts are stride-aligned from 1,
# so the plant's windows land on the source's window grid and every
# planted doc yields >=2 repeated passages.
PASSAGE_PLANT_MAX_ID = 50
PASSAGE_PLANT_TOKENS = 20
PASSAGE_PLANT_ID_OFFSET = 1_000_000


def planted_passage_docs(docs):
    """(doc_id, text) plus deterministic planted passage duplicates."""
    toks = "split(text, ' ')"
    planted = docs.filter(
        (F.col("doc_id") < PASSAGE_PLANT_MAX_ID)
        & (F.expr(f"size({toks})") >= PASSAGE_PLANT_TOKENS)
    ).select(
        (F.col("doc_id") + PASSAGE_PLANT_ID_OFFSET).alias("doc_id"),
        F.expr(
            f"array_join(slice({toks}, 1, {PASSAGE_PLANT_TOKENS}), ' ')"
        ).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(planted)


def repeated_passages(docs, w: int = PASSAGE_W, stride: int = PASSAGE_STRIDE):
    """Core operator over any (doc_id, text) DataFrame: md5-hashed
    rolling token windows, kept when they occur in more than one
    distinct document."""
    toks = "split(text, ' ')"
    # sequence(1, 0, +5) is an error in Spark, so docs shorter than one
    # window get an explicit empty array instead.
    windows = (
        f"transform(if(size({toks}) >= {w},"
        f" sequence(1, size({toks}) - {w} + 1, {stride}),"
        f" array()),"
        f" p -> md5(array_join(slice({toks}, p, {w}), ' ')))"
    )
    exploded = docs.select(
        "doc_id", F.explode(F.expr(windows)).alias("passage_hash")
    )
    return (
        exploded.groupBy("passage_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def repeated_passage_spans(spark, sf_dir):
    """Passage-level dedup over the (plant-augmented) documents table."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    return repeated_passages(planted_passage_docs(docs))


_DUCK_TOKS = "string_split(text, ' ')"
ORACLE_REPEATED_PASSAGES = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PASSAGE_PLANT_ID_OFFSET},
         array_to_string({_DUCK_TOKS}[1:{PASSAGE_PLANT_TOKENS}], ' ')
  FROM documents
  WHERE doc_id < {PASSAGE_PLANT_MAX_ID}
    AND len({_DUCK_TOKS}) >= {PASSAGE_PLANT_TOKENS}
),
win AS (
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' ')[p:p + {PASSAGE_W} - 1], ' ')) AS passage_hash
  FROM aug,
       unnest(range(1, greatest(len(string_split(text, ' ')) - {PASSAGE_W} + 1, 0) + 1,
                    {PASSAGE_STRIDE})) AS t(p)
)
SELECT passage_hash, count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences, min(doc_id) AS min_doc_id
FROM win GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
"""


# ---------------------------------------------------------------------------
# PDF text extraction: born-digital PDF payloads parsed (FlateDecode +
# content-stream tokenizer, ocrs_spark/pdf.py) back into text — the
# "PDF parse" leg next to the HTML strip above. The corpus row encodes
# each document's text into a real single-page PDF ONCE per (session,
# sf_dir) — a real corpus arrives already encoded, so the timed query
# pays for parse only — and the oracle is exact identity recovery.
PDF_LINE_WORDS = 8
PDF_PAYLOAD_SCHEMA = "doc_id bigint, payload binary"
PDF_TEXT_SCHEMA = "doc_id bigint, pdf_text string"


def _pdf_lines(toks: list[str]) -> list[str]:
    return [
        " ".join(toks[i : i + PDF_LINE_WORDS])
        for i in range(0, len(toks), PDF_LINE_WORDS)
    ]


def _pdf_payload(text: str) -> bytes:
    from ..malloc_tuning import pretouch_arena
    from ..pdf import encode_pdf

    pretouch_arena(64)  # idempotent: faults in on a worker's first row
    return encode_pdf(_pdf_lines(text.split(" ")))


def pdf_payload_table(spark, sf_dir):
    return derived_table(
        spark, sf_dir, "pdf_payloads", ("text",), PDF_PAYLOAD_SCHEMA,
        _pdf_payload,
    )


def _extract_pdf_batches(batches):
    from ..malloc_tuning import pretouch_arena
    from ..pdf import PdfParseError, extract_pdf_text

    # This host faults fresh mmap pages at ~20 MB/s; the parse loop
    # allocates many short-lived strings, so concurrent workers without
    # a pre-touched arena serialize in the kernel (same fix as the
    # multimodal decode path).
    pretouch_arena(64)

    for pdf in batches:
        texts = []
        for p in pdf["payload"]:
            # Per-row failure isolation: a malformed payload yields a
            # NULL row instead of killing the task (the synthesized
            # corpus is never malformed, so the oracle is unaffected).
            try:
                texts.append(" ".join(extract_pdf_text(bytes(p))))
            except PdfParseError:
                texts.append(None)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "pdf_text": texts})


def pdf_text_extraction(spark, sf_dir):
    """Parse every PDF payload back into text (the timed path is parse
    only; see pdf_payload_table)."""
    payloads = pdf_payload_table(spark, sf_dir)
    return payloads.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_extract_pdf_batches, schema=PDF_TEXT_SCHEMA)


ORACLE_PDF_TEXT = "SELECT doc_id, text AS pdf_text FROM documents"


# ---------------------------------------------------------------------------
# PDF *layout* parse: the corpus row encodes each document as a
# two-column page whose show operators are emitted row-interleaved and
# right-to-left (pdf.encode_pdf_columns), so stream-order extraction
# returns scrambled text and only the positional parser + column
# reading-order analysis (pdf.extract_pdf_text_layout) recovers the
# document. Same landed-once / parse-only-timed split as the linear
# PDF row; per-page layout is independent, so the plan is scan + one
# Arrow stage, no shuffle.
PDF_LAYOUT_TEXT_SCHEMA = "doc_id bigint, layout_text string"


def _pdf_layout_payload(text: str) -> bytes:
    from ..malloc_tuning import pretouch_arena
    from ..pdf import encode_pdf_columns

    pretouch_arena(64)
    toks = text.split(" ")
    mid = (len(toks) + 1) // 2
    return encode_pdf_columns([_pdf_lines(toks[:mid]), _pdf_lines(toks[mid:])])


def pdf_layout_payload_table(spark, sf_dir):
    return derived_table(
        spark, sf_dir, "pdf_layout_payloads", ("text",), PDF_PAYLOAD_SCHEMA,
        _pdf_layout_payload,
    )


def _extract_layout_batches(batches):
    from ..malloc_tuning import pretouch_arena
    from ..pdf import PdfParseError, extract_pdf_text_layout

    pretouch_arena(64)

    for pdf in batches:
        texts = []
        for p in pdf["payload"]:
            try:
                texts.append(" ".join(extract_pdf_text_layout(bytes(p))))
            except PdfParseError:
                texts.append(None)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "layout_text": texts})


def pdf_layout_extraction(spark, sf_dir):
    """Positional parse + column reading order over the two-column
    payloads; the oracle is exact identity recovery, which stream-order
    extraction cannot produce on this corpus."""
    payloads = pdf_layout_payload_table(spark, sf_dir)
    return payloads.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_extract_layout_batches, schema=PDF_LAYOUT_TEXT_SCHEMA)


ORACLE_PDF_LAYOUT = "SELECT doc_id, text AS layout_text FROM documents"


QUERIES = {
    "html_main_content": html_main_content,
    "dom_main_content": dom_main_content,
    "html_metadata": html_metadata,
    "repeated_passage_spans": repeated_passage_spans,
    "pdf_text_extraction": pdf_text_extraction,
    "pdf_layout_extraction": pdf_layout_extraction,
}

ORACLES = {
    "html_main_content": ORACLE_MAIN_CONTENT,
    "dom_main_content": ORACLE_DOM_MAIN,
    "html_metadata": ORACLE_HTML_META,
    "repeated_passage_spans": ORACLE_REPEATED_PASSAGES,
    "pdf_text_extraction": ORACLE_PDF_TEXT,
    "pdf_layout_extraction": ORACLE_PDF_LAYOUT,
}
