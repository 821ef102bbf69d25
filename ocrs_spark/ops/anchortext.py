"""Anchor-text aggregation: build the per-page inbound anchor corpus.

Search engines and LLM pretraining pipelines both mine the text INSIDE
``<a>`` tags pointing at a page — aggregated over all inbound links,
anchor text is a crowd-sourced summary of the target (the classic
"anchor document" of Craswell et al., and the title-proxy signal in
modern crawl curation). This module extracts (src, dst, anchor) triples
from the HTML markup and folds them into one row per target page:

- ``n_inlinks``       — inbound followed-link count,
- ``n_unique_anchors``— distinct anchor strings,
- ``anchor_doc``      — the anchor document: distinct anchors, sorted,
                        space-joined (deterministic on both engines),
- ``top_anchor``      — the modal anchor string, ties broken by the
                        lexically largest (max-of-struct semantics,
                        mirrored exactly in the oracle's window sort).

Link-extraction fidelity the oracle forces: off-site hrefs, non-doc
paths, commented-out markup, and ``rel="nofollow"`` links (planted on
every page) must all be excluded — only the two followed same-site
``/doc/<id>`` anchors per page survive, and their TEXT (not just the
target id) must be read out of the markup.

Scale shape: extraction is one whole-stage-codegen expression pass
(comment strip -> regexp_extract_all of whole anchor tags -> explode ->
two regexp_extract projections + an anti-nofollow filter) — no Python.
Aggregation is two groupBys keyed on (dst, anchor) then dst: the
two-level fold is deliberate — at web scale popular pages have millions
of inlinks, and pre-aggregating on (dst, anchor) collapses the
heavy-hitter key into at most |vocab| rows per dst before the final
shuffle (the anchor string acts as a natural salt), the same shape
``skew.salted_event_user_stats`` uses with a synthetic salt.

The corpus is synthesized deterministically from the documents table
(anchor targets and texts are arithmetic in doc_id), so the DuckDB
oracle recomputes the exact edge set from the formulas and must agree
with what Spark parses out of the markup.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import derived_table

HTML_SCHEMA = "doc_id bigint, html string"
VOCAB = ["download", "guide", "homepage", "paper", "reference", "results"]
_T1 = (7, 13)  # followed link 1: dst = (doc_id*7 + 13) % N
_T2 = (31, 17)  # followed link 2: dst = (doc_id*31 + 17) % N
_T3 = (5, 3)  # nofollow link (must be dropped): dst = (doc_id*5 + 3) % N

_ANCHOR_RE = r'<a[^>]*href="/doc/(\d+)"[^>]*>([^<]+)</a>'


def _anchors(doc_id: int, n: int) -> list[tuple[int, str, bool]]:
    """(target, anchor_text, followed) for the three planted links."""
    t1 = (doc_id * _T1[0] + _T1[1]) % n
    t2 = (doc_id * _T2[0] + _T2[1]) % n
    t3 = (doc_id * _T3[0] + _T3[1]) % n
    return [
        (t1, VOCAB[(doc_id + t1) % len(VOCAB)], True),
        (t2, VOCAB[(doc_id * 3 + t2) % len(VOCAB)], True),
        (t3, VOCAB[doc_id % len(VOCAB)], False),
    ]


def _anchored_html(doc_id: int, text: str, n: int) -> str:
    """A page with two followed /doc/ anchors, one nofollow /doc/
    anchor, and distractor links the extractor must ignore."""
    (t1, a1, _), (t2, a2, _), (t3, a3, _) = _anchors(doc_id, n)
    return (
        f"<html><head><title>Doc {doc_id}</title></head><body>"
        '<nav><a href="/">home</a> '
        '<a href="https://other.example/doc/4">offsite doc link</a></nav>'
        f"<main><p>{text}</p>"
        f'<p>Read the <a href="/doc/{t1}">{a1}</a> and the '
        f'<a href="/doc/{t2}" class="rel">{a2}</a>, but not the '
        f'<a href="/doc/{t3}" rel="nofollow">{a3}</a>.</p></main>'
        '<footer><a href="/privacy">privacy</a>'
        "<!-- <a href=\"/doc/0\">commented-out download</a> --></footer>"
        "</body></html>"
    )


def _anchored_corpus(spark, sf_dir: str):
    """(doc_id, html) with planted anchors, landed once per session.
    The corpus size is a scalar subquery of the build, so it is
    counted only when the table is built."""
    return derived_table(
        spark, sf_dir, "anchored_html_docs",
        lambda docs: ("doc_id", "text", docs.select(F.count("*")).scalar()),
        HTML_SCHEMA, _anchored_html,
    )


def anchor_edges(pages, html_col: str = "html", src_col: str = "doc_id"):
    """(src, dst, anchor) for every followed same-site /doc/ link.

    Pure expression stage: strip comments, pull whole anchor tags,
    explode, drop nofollow, project the target id and the anchor text.
    """
    # Inside a SQL string literal backslashes are escape characters, so
    # the regex's \d must be doubled; the Python-API regexp_extract
    # calls below take the raw pattern.
    sql_re = _ANCHOR_RE.replace("\\", "\\\\")
    tags = F.expr(
        f"""regexp_extract_all(
                regexp_replace({html_col}, '(?s)<!--.*?-->', ' '),
                '{sql_re}', 0)"""
    )
    return (
        pages.select(F.col(src_col).alias("src"), F.explode(tags).alias("tag"))
        .where(~F.col("tag").rlike('rel="nofollow"'))
        .select(
            "src",
            F.regexp_extract("tag", _ANCHOR_RE, 1).cast("bigint").alias("dst"),
            F.regexp_extract("tag", _ANCHOR_RE, 2).alias("anchor"),
        )
    )


def anchor_text_docs(spark, sf_dir: str):
    """One row per linked-to page: inbound counts + the anchor document."""
    edges = anchor_edges(_anchored_corpus(spark, sf_dir))
    per_anchor = edges.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_anchor.groupBy("dst")
        .agg(
            F.sum("cnt").alias("n_inlinks"),
            F.count(F.lit(1)).alias("n_unique_anchors"),
            F.concat_ws(" ", F.array_sort(F.collect_list("anchor"))).alias(
                "anchor_doc"
            ),
            F.max(F.struct("cnt", "anchor")).getField("anchor").alias(
                "top_anchor"
            ),
        )
        .select(
            F.col("dst").alias("doc_id"),
            "n_inlinks",
            "n_unique_anchors",
            "anchor_doc",
            "top_anchor",
        )
    )


def _vocab_sql(idx_expr: str) -> str:
    lst = ", ".join(f"'{w}'" for w in VOCAB)
    return f"list_extract([{lst}], 1 + ({idx_expr}) % {len(VOCAB)})"


def _oracle_sql() -> str:
    """Recompute the followed edge set from the planting formulas, then
    the identical two-level aggregation (HUGEINT sums cast back to
    BIGINT so pandas canonicalization keeps integer dtype)."""
    n = "(SELECT COUNT(*) FROM documents)"
    t1 = f"(doc_id*{_T1[0]} + {_T1[1]}) % {n}"
    t2 = f"(doc_id*{_T2[0]} + {_T2[1]}) % {n}"
    return f"""
WITH edges AS (
  SELECT doc_id AS src, {t1} AS dst, {_vocab_sql(f"doc_id + {t1}")} AS anchor
  FROM documents
  UNION ALL
  SELECT doc_id AS src, {t2} AS dst, {_vocab_sql(f"doc_id*3 + {t2}")} AS anchor
  FROM documents
),
per_anchor AS (
  SELECT dst, anchor, COUNT(*) AS cnt FROM edges GROUP BY dst, anchor
),
top AS (
  SELECT dst, anchor AS top_anchor,
         ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor DESC) AS rn
  FROM per_anchor
),
agg AS (
  SELECT dst,
         CAST(SUM(cnt) AS BIGINT) AS n_inlinks,
         CAST(COUNT(*) AS BIGINT) AS n_unique_anchors,
         string_agg(anchor, ' ' ORDER BY anchor) AS anchor_doc
  FROM per_anchor GROUP BY dst
)
SELECT agg.dst AS doc_id, agg.n_inlinks, agg.n_unique_anchors,
       agg.anchor_doc, top.top_anchor
FROM agg JOIN top ON top.dst = agg.dst AND top.rn = 1
"""


QUERIES = {"anchor_text_docs": anchor_text_docs}
ORACLES = {"anchor_text_docs": _oracle_sql()}
