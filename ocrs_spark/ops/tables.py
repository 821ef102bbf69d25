"""HTML table extraction: lift ``<table>`` markup into relational
(doc_id, row_idx, col_idx, cell, is_header) rows — the extraction leg
every layout-aware corpus builder needs (tables are where the dense
factual content lives; flattening them to prose destroys it, so
serious pipelines extract cells WITH their grid coordinates and
header flags for linearization downstream).

Planting (round-trip discipline, ``ops/linkgraph.py`` pattern): each
doc synthesizes one table — a ``<th>`` header row plus a formula-
driven body grid — wrapped in traps: a fully commented-out table, and
attribute-laden ``<tr class=..>``/``<td data-col=..>`` tags that force
the parser to handle attributes rather than match literal ``<td>``.
The Spark side genuinely parses: comment strip, ``regexp_extract_all``
of row bodies, ``posexplode`` rows, ``regexp_extract_all`` of cells
within each row, ``posexplode`` again — all codegen expressions, zero
Python. The oracle recomputes the expected grid closed-form from the
planting formula and never sees the markup.

Scale: pure per-document expression work — embarrassingly parallel,
fuses into the scan; the only data movement is whatever partitioning
the corpus already has. Nested/colspan tables at web scale move this
to the ``ops/webdoc.py`` DOM leg (a stack parser in mapInPandas);
this operator is the grid fast path that covers the vast majority of
data tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import derived_table

TABLE_SCHEMA = "doc_id bigint, html string"


def _table_html(doc_id: int) -> str:
    nr = doc_id % 3 + 2  # body rows
    nc = doc_id % 2 + 2  # columns
    parts = [
        "<html><body>",
        "<!-- <table><tr><td>ghost</td></tr></table> -->",
        '<table class="data"><tr class="head">',
    ]
    parts += [f"<th>h {c}</th>" for c in range(1, nc + 1)]
    parts.append("</tr>")
    for r in range(1, nr + 1):
        parts.append(f'<tr data-row="{r}">')
        parts += [
            f'<td data-col="{c}">v {r} {c}</td>' for c in range(1, nc + 1)
        ]
        parts.append("</tr>")
    parts.append("</table></body></html>")
    return "".join(parts)


def _table_corpus(spark, sf_dir: str):
    return derived_table(
        spark, sf_dir, "table_html_docs", ("doc_id",), TABLE_SCHEMA,
        _table_html,
    )


def html_table_cells(spark, sf_dir: str):
    """(doc_id, row_idx, col_idx, cell, is_header) — 0-based grid
    coordinates, header rows flagged by their ``<th>`` cells."""
    pages = _table_corpus(spark, sf_dir)
    rows = pages.select(
        "doc_id",
        F.posexplode(
            F.expr(
                r"""regexp_extract_all(
                      regexp_replace(html, '(?s)<!--.*?-->', ' '),
                      '<tr[^>]*>(.*?)</tr>', 1)"""
            )
        ).alias("row_idx", "row_html"),
    )
    cells = rows.select(
        "doc_id",
        F.col("row_idx").cast("long").alias("row_idx"),
        F.col("row_html").contains("<th").alias("is_header"),
        F.posexplode(
            F.expr(
                r"regexp_extract_all(row_html, '<t[dh][^>]*>([^<]*)</t[dh]>', 1)"
            )
        ).alias("col_idx", "cell"),
    )
    return cells.select(
        "doc_id",
        "row_idx",
        F.col("col_idx").cast("long").alias("col_idx"),
        "cell",
        "is_header",
    )


def _oracle_sql() -> str:
    return """
WITH grid AS (
  SELECT doc_id, CAST(r AS BIGINT) AS row_idx, CAST(c AS BIGINT) AS col_idx
  FROM (
    SELECT doc_id, r, unnest(range(0, (doc_id % 2 + 2)::BIGINT)) AS c
    FROM (
      SELECT doc_id, unnest(range(0, (doc_id % 3 + 3)::BIGINT)) AS r
      FROM documents
    )
  )
)
SELECT doc_id, row_idx, col_idx,
       CASE WHEN row_idx = 0 THEN 'h ' || (col_idx + 1)
            ELSE 'v ' || row_idx || ' ' || (col_idx + 1) END AS cell,
       row_idx = 0 AS is_header
FROM grid
"""


def table_markdown(spark, sf_dir: str):
    """(doc_id, markdown): the extracted grid linearized to GitHub
    markdown — the form training corpora actually ingest tables in
    (header row, ``---`` separator under it, one pipe-row per body
    row). Reassembly is the real work: the grid comes back from
    ``html_table_cells`` as unordered (row, col, cell) rows, so the
    operator must restore both orders with sort-inside-aggregate
    expressions — ``array_sort(collect_list(struct(...)))`` per row,
    then again per document — never a global ORDER BY (per-doc arrays
    are bounded; the plan is two groupBys, both map-side combinable)."""
    cells = html_table_cells(spark, sf_dir)
    rows = cells.groupBy("doc_id", "row_idx").agg(
        F.expr(
            "concat('| ', array_join(transform("
            "array_sort(collect_list(struct(col_idx, cell))),"
            " x -> x.cell), ' | '), ' |')"
        ).alias("line"),
        F.max("is_header").alias("is_header"),
        F.count("*").cast("int").alias("ncols"),
    )
    line_out = F.expr(
        "IF(is_header, concat(line, '\\n', concat('| ', array_join("
        "transform(sequence(1, ncols), x -> '---'), ' | '), ' |')), line)"
    )
    return (
        rows.select("doc_id", "row_idx", line_out.alias("line_out"))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(row_idx, line_out))), x -> x.line_out), '\\n')"
            ).alias("markdown")
        )
    )


def _oracle_markdown_sql() -> str:
    return """
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 3 + 2 AS BIGINT) AS nr,
         CAST(doc_id % 2 + 2 AS BIGINT) AS nc
  FROM documents
)
SELECT doc_id,
  array_to_string(
    list_concat(
      ['| ' || array_to_string(['h ' || c for c in range(1, nc + 1)], ' | ') || ' |',
       '| ' || array_to_string(['---' for c in range(1, nc + 1)], ' | ') || ' |'],
      ['| ' || array_to_string(['v ' || r || ' ' || c for c in range(1, nc + 1)], ' | ') || ' |'
        for r in range(1, nr + 1)]
    ), chr(10)) AS markdown
FROM dims
"""


QUERIES = {
    "html_table_cells": html_table_cells,
    "table_markdown": table_markdown,
}
ORACLES = {
    "html_table_cells": _oracle_sql(),
    "table_markdown": _oracle_markdown_sql(),
}
