"""Heading-outline extraction: assign every paragraph its (h1, h2)
section ancestry from the document's heading structure — the layout-
parse step between boilerplate stripping (``ops/webdoc.py``) and
chunking (``ops/chunking.py``): RAG pipelines and section-aware
training corpora want "paragraph + its section path", not a flat text
blob (every serious HTML-to-markdown extractor emits this outline).

Planting (the ``ops/linkgraph.py`` round-trip discipline): each doc
synthesizes real markup — one h1, a formula-driven number of h2
sections each with a formula-driven number of paragraphs, plus traps:
a commented-out ``<h2>``+``<p>`` block and an ``<aside>`` h3 the
outline must not record. The Spark side genuinely parses (comment
strip, then ONE ``regexp_extract_all`` whose alternation captures
tag+content pairs in document order, ``posexplode`` to a per-doc
token stream) and rebuilds ancestry with the running-window idiom:
``last(value, ignorenulls)`` over rows-unbounded-preceding, with an
empty-string sentinel on h1 rows so a new h1 RESETS the h2 context
(gaps-and-islands' cousin). The oracle recomputes the outline
closed-form from the planting formula — it never sees the markup.

Scale: synthesis and parsing are one mapInPandas + expression stage;
the ancestry window partitions by doc_id (per-doc token counts are
bounded — no skew); paragraph numbering is a row_number over the same
window. One shuffle total.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import derived_table

OUTLINE_SCHEMA = "doc_id bigint, html string"


def _outline_html(doc_id: int) -> str:
    ns = doc_id % 3 + 1
    parts = [
        f"<html><body><h1>Doc {doc_id}</h1>",
        '<!-- <h2>Commented section</h2><p>ghost para</p> -->',
    ]
    for s in range(1, ns + 1):
        parts.append(f"<h2>Section {s}</h2>")
        for p in range(1, (doc_id + s) % 2 + 2):
            parts.append(f"<p>para {s} {p}</p>")
    parts.append("<aside><h3>Related</h3></aside></body></html>")
    return "".join(parts)


def _outline_corpus(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "outline_html_docs", ("doc_id",), OUTLINE_SCHEMA,
        _outline_html,
    )


def heading_outline(spark, sf_dir: str):
    """(doc_id, para_idx, h1, h2, text) — every kept paragraph with
    its section ancestry, paragraph index in document order."""
    pages = _outline_corpus(spark, sf_dir)
    toks = F.expr(
        r"""arrays_zip(
              regexp_extract_all(
                regexp_replace(html, '(?s)<!--.*?-->', ' '),
                '<(h1|h2|p)>[^<]*</', 1),
              regexp_extract_all(
                regexp_replace(html, '(?s)<!--.*?-->', ' '),
                '<(?:h1|h2|p)>([^<]*)</', 1))"""
    )
    stream = pages.select(
        "doc_id", F.posexplode(toks).alias("pos", "t")
    ).select(
        "doc_id",
        "pos",
        F.col("t.0").alias("tag"),
        F.col("t.1").alias("content"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cur_h1 = F.last(
        F.when(F.col("tag") == "h1", F.col("content")), ignorenulls=True
    ).over(w)
    # h1 rows plant an empty-string sentinel so a new h1 resets h2
    cur_h2 = F.nullif(
        F.last(
            F.when(F.col("tag") == "h2", F.col("content")).when(
                F.col("tag") == "h1", F.lit("")
            ),
            ignorenulls=True,
        ).over(w),
        F.lit(""),
    )
    paras = (
        stream.withColumn("h1", cur_h1)
        .withColumn("h2", cur_h2)
        .filter(F.col("tag") == "p")
    )
    wp = Window.partitionBy("doc_id").orderBy("pos")
    return paras.select(
        "doc_id",
        (F.row_number().over(wp)).cast("long").alias("para_idx"),
        "h1",
        "h2",
        F.col("content").alias("text"),
    )


def _oracle_sql() -> str:
    return """
WITH sections AS (
  SELECT doc_id, CAST(s AS BIGINT) AS s FROM (
    SELECT doc_id, unnest(range(1, (doc_id % 3 + 2)::BIGINT)) AS s
    FROM documents
  )
),
paras AS (
  SELECT doc_id, s, CAST(p AS BIGINT) AS p FROM (
    SELECT doc_id, s,
           unnest(range(1, ((doc_id + s) % 2 + 2)::BIGINT)) AS p
    FROM sections
  )
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s, p) AS BIGINT)
         AS para_idx,
       'Doc ' || doc_id AS h1,
       'Section ' || s AS h2,
       'para ' || s || ' ' || p AS text
FROM paras
"""


QUERIES = {"heading_outline": heading_outline}
ORACLES = {"heading_outline": _oracle_sql()}
