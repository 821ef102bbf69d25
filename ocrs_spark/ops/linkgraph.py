"""Link-graph extraction + distributed PageRank over the web corpus.

A web-scale extraction pipeline doesn't stop at main content: the link
graph drives crawl scheduling, spam scoring, and quality priors for
training-data curation. Two operators:

- ``link_graph_edges`` — parse outlinks from each document's HTML.
  The corpus plants exactly two ``<a href="/doc/<id>">`` anchors per
  page with arithmetically-defined targets, surrounded by distractor
  links (external hosts, non-doc paths, a nav block) that must NOT
  become edges. The oracle recomputes the targets from the formula —
  the Spark side must actually find-and-filter the anchors in the
  markup to agree.
- ``pagerank_links`` — 5 PageRank iterations over the EXTRACTED edges
  (damping 7/8, init rank 1.0, out-degree exactly 2 by construction).
  Every quantity is a dyadic rational (denominators are powers of two),
  so IEEE-double arithmetic is EXACT on both engines regardless of
  fold order, and the oracle — the same five iterations unrolled as
  chained CTEs in DuckDB — matches bit-for-bit with no rounding. This
  is the honest way to oracle an iterative numeric algorithm: make the
  arithmetic exact instead of hoping two engines round alike.

Scale design: extraction is one Arrow-free expression stage
(``regexp_extract_all`` + explode, whole-stage codegen); the edge list
is materialized once and re-read per iteration (at 100 TB: a bucketed
table partitioned by ``src``, so the contribution join co-locates);
each iteration is one shuffle (groupBy dst) + one broadcast-or-sorted
join against the node list — the classic Pregel-on-DataFrames shape.
Ranks stay (node, double) — O(N) rows, never collected.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import derived_table

DAMPING = 0.875  # 7/8: exact in binary, so iteration arithmetic stays exact
TELEPORT = 0.125  # 1 - DAMPING
ITERATIONS = 5
OUT_DEGREE = 2

HTML_SCHEMA = "doc_id bigint, html string"
_A, _B = (7, 13), (31, 17)  # target formulas: (doc_id*a + b) % N


def _targets(doc_id: int, n: int) -> tuple[int, int]:
    return (doc_id * _A[0] + _A[1]) % n, (doc_id * _B[0] + _B[1]) % n


def _linked_html(doc_id: int, text: str, n: int) -> str:
    """A page whose only /doc/ anchors are the two planted outlinks;
    everything else is distractor markup the extractor must ignore."""
    t1, t2 = _targets(doc_id, n)
    return (
        f"<html><head><title>Doc {doc_id}</title>"
        '<link rel="stylesheet" href="/static/site.css"></head><body>'
        '<nav><a href="/">home</a> <a href="/about">about</a> '
        '<a href="https://example.com/doc/999">external</a></nav>'
        f"<main><p>{text}</p>"
        f'<p>See <a href="/doc/{t1}">related</a> and '
        f'<a href="/doc/{t2}" class="more">more</a>.</p></main>'
        '<footer><a href="/terms">terms</a> '
        "<!-- <a href=\"/doc/0\">commented out, still markup</a> --></footer>"
        "</body></html>"
    )


def _linked_corpus(spark, sf_dir: str):
    """(doc_id, html) with planted outlinks, landed once per session.
    The corpus size is a scalar subquery of the build, so it is
    counted only when the table is built."""
    return derived_table(
        spark, sf_dir, "linked_html_docs",
        lambda docs: ("doc_id", "text", docs.select(F.count("*")).scalar()),
        HTML_SCHEMA, _linked_html,
    )


def _edges(spark, sf_dir: str):
    """Extract (src, dst) from the HTML and land the edge list once —
    the iteration loop re-reads a compact edge file instead of
    re-parsing markup five times."""
    from ..matcache import materialize_once

    def build():
        pages = _linked_corpus(spark, sf_dir)
        # comments are not links: strip them before anchor extraction,
        # then keep only same-site /doc/<id> hrefs
        hrefs = F.expr(
            r"""regexp_extract_all(
                    regexp_replace(html, '(?s)<!--.*?-->', ' '),
                    '<a[^>]*href="/doc/(\\d+)"', 1)"""
        )
        return (
            pages.select(
                F.col("doc_id").alias("src"),
                F.explode(hrefs).alias("dst_str"),
            )
            .select("src", F.col("dst_str").cast("bigint").alias("dst"))
        )

    return materialize_once(spark, sf_dir, "link_graph_edges", build)


def link_graph_edges(spark, sf_dir: str):
    return _edges(spark, sf_dir).select("src", "dst")


def pagerank_links(spark, sf_dir: str):
    edges = _edges(spark, sf_dir)
    nodes = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").alias("node"))
    )
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(ITERATIONS):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / OUT_DEGREE).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(TELEPORT)
                + F.lit(DAMPING) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select(
        F.col("node").alias("doc_id"), F.col("rank").alias("pagerank")
    )


BFS_SEEDS = 5  # seed set: doc_id < 5 ("crawl entry points")
BFS_MAX_DEPTH = 40  # hard cap on BOTH engines; measured diameter is 13
                    # at sf0.1, so the cap never truncates a real path


def crawl_depth_bfs(spark, sf_dir):
    """Minimum link-hop distance from the seed pages to every reachable
    page — the crawl-depth / seed-proximity prior curation pipelines
    use (pages far from any trusted seed are spam-likelier).

    Distributed BFS as iterative joins with TRUE early termination: the
    driver loop stops when a frontier comes back empty (13 rounds at
    sf0.1), not at the worst-case cap. Each round is one hash join
    (frontier x edges, both shuffled on the join key) plus a left-anti
    join against the visited set; ``localCheckpoint`` materializes the
    new frontier so the plan for round k is O(1) deep instead of O(k)
    — the standard lineage-truncation move for iterative DataFrame
    algorithms (same reason MLlib checkpoints ALS). At 100 TB the edge
    list is a bucketed table on ``src`` so the per-round join never
    reshuffles the big side; the frontier/visited sides are O(nodes),
    not O(edges). The oracle is DuckDB's recursive CTE with the same
    depth cap, min-depth per node."""
    # r6: pin the compact edge list in executor memory once instead of
    # re-reading its parquet every one of the ~13 rounds (guide §5:
    # reuse across iterations is what localCheckpoint is for). Explicit
    # per-round frontier/visited broadcasts were measured SLOWER here
    # (4.5 s vs 3.1 s at sf0.1: a fresh broadcast build every round
    # costs more than the tiny shuffles it removes) — AQE already
    # picks broadcast at runtime when a side is small, so the join
    # strategy is left adaptive.
    edges = _edges(spark, sf_dir).localCheckpoint()
    seeds = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < BFS_SEEDS)
        .select(F.col("doc_id").alias("node"), F.lit(0).alias("depth"))
    )
    frontier = seeds.localCheckpoint()
    visited = frontier
    for depth in range(1, BFS_MAX_DEPTH + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(depth))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select(F.col("node").alias("doc_id"), "depth")


def _oracle_bfs_sql() -> str:
    return f"""
WITH RECURSIVE edges AS ({_oracle_edges_sql()}),
bfs AS (
  SELECT doc_id AS node, 0 AS depth FROM documents WHERE doc_id < {BFS_SEEDS}
  UNION
  SELECT e.dst AS node, b.depth + 1 AS depth
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.depth < {BFS_MAX_DEPTH}
)
SELECT node AS doc_id, MIN(depth) AS depth FROM bfs GROUP BY node
"""


def _oracle_edges_sql() -> str:
    n = "(SELECT COUNT(*) FROM documents)"
    return (
        f"SELECT doc_id AS src, (doc_id*{_A[0]} + {_A[1]}) % {n} AS dst FROM documents "
        f"UNION ALL "
        f"SELECT doc_id AS src, (doc_id*{_B[0]} + {_B[1]}) % {n} AS dst FROM documents"
    )


def _oracle_pagerank_sql() -> str:
    """The same 5 exact-arithmetic iterations, unrolled as CTEs."""
    parts = [
        f"WITH edges AS ({_oracle_edges_sql()}), ",
        "nodes AS (SELECT doc_id AS node FROM documents), ",
        "r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes)",
    ]
    for i in range(ITERATIONS):
        parts.append(
            f", r{i + 1} AS (SELECT nd.node, "
            f"{TELEPORT} + {DAMPING} * COALESCE(SUM(r.rank / {OUT_DEGREE}), 0) AS rank "
            f"FROM nodes nd LEFT JOIN edges e ON e.dst = nd.node "
            f"LEFT JOIN r{i} r ON r.node = e.src GROUP BY nd.node)"
        )
    parts.append(
        f" SELECT node AS doc_id, rank AS pagerank FROM r{ITERATIONS}"
    )
    return "".join(parts)


HITS_ITERATIONS = 4
# HITS runs on the spam-gated subgraph: a link whose (src+dst) hash
# lands in the flagged bucket is excluded before endorsement
# propagation (the deterministic stand-in for "drop edges a spam gate
# flagged" — running HITS on the raw graph would be vacuous here
# anyway, because the planted corpus is exactly 2-in/2-out regular and
# unnormalized HITS on a biregular graph is constant).
HITS_SPAM_MOD = 3


def _hits_edges(spark, sf_dir: str):
    return _edges(spark, sf_dir).filter(
        (F.col("src") + F.col("dst")) % HITS_SPAM_MOD != 0
    )


def hits_scores(spark, sf_dir: str):
    """Kleinberg HITS hubs & authorities over the spam-gated link graph
    — the crawl-prioritization complement to PageRank (a page that
    LINKS to many high-authority pages is a good frontier seed even if
    nothing links to it yet).

    Exact-arithmetic discipline (same as ``pagerank_links``): the
    scores are left UN-normalized so every value is a plain integer —
    4 rounds of sum-of-neighbors over a degree<=2 graph stays tiny
    (<= 4^4), and integer sums are fold-order-independent, so the
    unrolled-CTE DuckDB oracle matches bit-for-bit. Real deployments
    normalize per round only to avoid float overflow; with integers
    and bounded rounds the un-normalized fixpoint direction is
    identical (normalization is a positive scalar).

    Scale: each half-round is one join (edges x scores, shuffled on
    the join key — at 100 TB the edge table is bucketed on BOTH src
    and dst copies so neither half re-shuffles the big side) + one
    groupBy with map-side partial sums. Scores stay (node, bigint) —
    O(N) rows, never collected."""
    edges = _hits_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").alias("node"))
    )
    hub = nodes.select("node", F.lit(1).cast("long").alias("h"))
    auth = None
    for _ in range(HITS_ITERATIONS):
        a_in = (
            edges.join(hub, edges.src == hub.node)
            .groupBy("dst")
            .agg(F.sum("h").alias("a_in"))
        )
        auth = nodes.join(
            a_in.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node", F.coalesce("a_in", F.lit(0)).cast("long").alias("a")
        )
        h_in = (
            edges.join(auth, edges.dst == auth.node)
            .groupBy("src")
            .agg(F.sum("a").alias("h_in"))
        )
        hub = nodes.join(
            h_in.withColumnRenamed("src", "node"), "node", "left"
        ).select(
            "node", F.coalesce("h_in", F.lit(0)).cast("long").alias("h")
        )
    return hub.join(auth, "node").select(
        F.col("node").alias("doc_id"),
        F.col("h").alias("hub_score"),
        F.col("a").alias("authority_score"),
    )


def _oracle_hits_sql() -> str:
    """The same 4 un-normalized iterations, unrolled as CTEs. Every
    SUM is cast to BIGINT — DuckDB's HUGEINT sum degrades to float64
    through pandas, which would flip the driver's int-vs-float tag."""
    parts = [
        f"WITH e0 AS ({_oracle_edges_sql()}), ",
        f"edges AS (SELECT * FROM e0 WHERE (src + dst) % {HITS_SPAM_MOD} <> 0), ",
        "nodes AS (SELECT doc_id AS node FROM documents), ",
        "h0 AS (SELECT node, 1::BIGINT AS h FROM nodes)",
    ]
    for i in range(HITS_ITERATIONS):
        parts.append(
            f", a{i + 1} AS (SELECT nd.node, CAST(COALESCE(SUM(h.h), 0) AS BIGINT) AS a "
            f"FROM nodes nd LEFT JOIN edges e ON e.dst = nd.node "
            f"LEFT JOIN h{i} h ON h.node = e.src GROUP BY nd.node)"
        )
        parts.append(
            f", h{i + 1} AS (SELECT nd.node, CAST(COALESCE(SUM(a.a), 0) AS BIGINT) AS h "
            f"FROM nodes nd LEFT JOIN edges e ON e.src = nd.node "
            f"LEFT JOIN a{i + 1} a ON a.node = e.dst GROUP BY nd.node)"
        )
    k = HITS_ITERATIONS
    parts.append(
        f" SELECT h{k}.node AS doc_id, h{k}.h AS hub_score, a{k}.a AS authority_score "
        f"FROM h{k} JOIN a{k} ON a{k}.node = h{k}.node"
    )
    return "".join(parts)


RA_SCALE = 1_000_000  # resource-allocation score in exact micro units
LINKPRED_HUB_CAP = 64  # drop mega-hub intermediates: a w with deg(w)>cap
                       # contributes C(deg,2) candidate pairs (quadratic)
                       # and ~zero RA signal (1/deg); excluding it bounds
                       # the self-join blow-up at web scale. The planted
                       # graph's max undirected degree is 4, so the cap
                       # never binds here — but the oracle mirrors it, so
                       # the guard is part of the verified semantics.


def link_prediction_ra(spark, sf_dir: str):
    """Resource-allocation link prediction (Zhou/Lu/Zhang 2009) over
    the undirected link graph: for each non-adjacent pair (u, v),
    score = sum over common neighbors w of 1/deg(w) — the crawl
    scheduler's "pages that SHOULD be linked" prior (co-cited pages
    get crawled/grouped together), and the graph-side cousin of the
    dedup family's candidate generation.

    Exactness: scores are integer micro-units (1_000_000 DIV deg —
    integer floor division on both engines), so sums are fold-order
    exact. Common-neighbor enumeration is the classic one-shuffle
    wedge join: neighbors(w) self-joined on w with u < v dedup, then
    one groupBy(u, v). Existing edges are removed with a left-anti
    join. At 100 TB the wedge join is the triangle-counting shape
    (``ops/triangles.py``): bucket the adjacency list on w and cap
    hub degrees (LINKPRED_HUB_CAP) so no single key explodes."""
    edges = _edges(spark, sf_dir)
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg") <= LINKPRED_HUB_CAP)
        .withColumnRenamed("src", "w")
    )
    n1 = und.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    n2 = und.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    scored = (
        n1.join(n2, "w")
        .filter(F.col("u") < F.col("v"))
        .join(deg, "w")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum(F.expr(f"{RA_SCALE} div deg")).cast("long").alias("ra_score_micro"),
        )
    )
    existing = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    return scored.join(existing, ["u", "v"], "left_anti").select(
        F.col("u").alias("doc_a"),
        F.col("v").alias("doc_b"),
        "common_neighbors",
        "ra_score_micro",
    )


def _oracle_linkpred_sql() -> str:
    return f"""
WITH e0 AS ({_oracle_edges_sql()}),
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
  ) WHERE src <> dst
),
deg AS (
  SELECT src AS w, COUNT(*) AS deg FROM und GROUP BY src
  HAVING COUNT(*) <= {LINKPRED_HUB_CAP}
),
scored AS (
  SELECT n1.dst AS u, n2.dst AS v,
         CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         CAST(SUM({RA_SCALE} // d.deg) AS BIGINT) AS ra_score_micro
  FROM und n1 JOIN und n2 ON n1.src = n2.src AND n1.dst < n2.dst
  JOIN deg d ON d.w = n1.src
  GROUP BY n1.dst, n2.dst
)
SELECT s.u AS doc_a, s.v AS doc_b, s.common_neighbors, s.ra_score_micro
FROM scored s LEFT JOIN und ON und.src = s.u AND und.dst = s.v
WHERE und.src IS NULL
"""


QUERIES = {
    "link_graph_edges": link_graph_edges,
    "pagerank_links": pagerank_links,
    "crawl_depth_bfs": crawl_depth_bfs,
    "hits_scores": hits_scores,
    "link_prediction_ra": link_prediction_ra,
}

ORACLES = {
    "link_graph_edges": _oracle_edges_sql(),
    "pagerank_links": _oracle_pagerank_sql(),
    "crawl_depth_bfs": _oracle_bfs_sql(),
    "hits_scores": _oracle_hits_sql(),
    "link_prediction_ra": _oracle_linkpred_sql(),
}
