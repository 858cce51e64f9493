"""Web link graph + host-level PageRank (beyond-reference webtext op).

A large-scale crawl pipeline ranks hosts by link authority (the
Common-Crawl host-graph pattern) and joins the rank back onto pages as
a quality signal.  The reference engine has no web-graph operators;
this module supplies the family Spark-first:

* anchor extraction is a single JVM ``regexp_extract_all`` over the
  raw html — whole-stage codegen, no Python in the hot path;
* the host graph is one groupBy shuffle keyed on (src_host, dst_host)
  — at 100 TB the page table never re-shuffles: extraction + host
  parsing are map-side, and the edge aggregation is the only wide op,
  with partial (map-side combine) aggregation for free;
* PageRank runs in **integer fixed-point** (micro-ranks scaled by
  1e12 held as bigint).  Integer sums are order-independent, so the
  result is bit-identical across engines, partitionings, and cluster
  sizes — a property float PageRank cannot give (sum order perturbs
  the low bits).  Per-edge contributions use bigint*bigint exact
  multiplication and one IEEE double division (operands <= ~2e14 are
  exactly representable, so both Spark and DuckDB floor identically);
* the iteration loop joins the (tiny, O(hosts^2) bounded) edge table
  against the rank table — ranks are broadcast-joined at real host
  counts (~1e7 hosts fits a broadcast; above that the equi-join
  shuffles edges once per iteration, still linear).

Scale notes: the page->edge stage is linear and embarrassingly
parallel; the iteration state is O(hosts), orders of magnitude smaller
than the crawl.  ``edges`` is persisted once before the loop so the
extraction pipeline is not re-run per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# damping 0.85 expressed as an exact integer ratio (17/20) so the
# update rule stays in exact integer arithmetic until one final IEEE
# division per host per iteration
_DAMP_NUM = 17
_DAMP_DEN_SQL = "2e1"  # exponent literal: DOUBLE in both Spark and DuckDB
_SCALE = 1_000_000_000_000  # micro-rank fixed point (1.0 == 1e12)

_HREF_RE = r'href="([^"]+)"'
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"


def with_anchor_links(
    pages: DataFrame, html_col: str = "html", out_col: str = "hrefs"
) -> DataFrame:
    """All ``href="..."`` targets per page as an array<string> column.

    Pure JVM (``regexp_extract_all`` inside codegen) — the 100 TB path
    never leaves Tungsten rows.
    """
    return pages.withColumn(
        out_col,
        F.regexp_extract_all(F.col(html_col).cast("string"), F.lit(_HREF_RE), 1),
    )


def host_expr(url_col) -> F.Column:
    """Lowercased authority (host[:port]) of an absolute URL, '' if none."""
    c = url_col if isinstance(url_col, F.Column) else F.col(url_col)
    return F.lower(F.regexp_extract(c, _HOST_RE, 1))


def host_link_edges(
    pages: DataFrame,
    url_col: str = "url",
    hrefs_col: str = "hrefs",
    drop_self_loops: bool = False,
) -> DataFrame:
    """(src_host, dst_host, weight) host-graph edges from per-page links.

    One explode (map-side) + one groupBy shuffle; relative links (no
    scheme) and malformed targets drop out via the empty-host filter.
    """
    links = (
        pages.select(
            host_expr(url_col).alias("src_host"),
            F.explode(F.col(hrefs_col)).alias("href"),
        )
        .select("src_host", host_expr("href").alias("dst_host"))
        .where((F.col("src_host") != "") & (F.col("dst_host") != ""))
    )
    if drop_self_loops:
        links = links.where(F.col("src_host") != F.col("dst_host"))
    return links.groupBy("src_host", "dst_host").agg(
        F.count("*").cast("bigint").alias("weight")
    )


def pagerank_fixed_point(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Weighted PageRank in bigint micro-ranks (1.0 == 1e12).

    Update rule per iteration (dangling mass leaks, the simple-leak
    variant — documented, and mirrored exactly by the SQL oracle)::

        contrib(dst) = SUM over in-edges floor((rank_src * w) / outdeg_src)
        rank'(h)     = 0.15e12 + floor((contrib(h) * 17) / 20)

    Every intermediate fits int64 (rank <= ~2.6e12 even on a star
    graph with 1e7 hosts feeding one hub only if total mass stays
    ~hosts*1e12; per-host contributions are bounded by total in-mass,
    and the 17x multiply keeps headroom below 2^63).  The two
    divisions are IEEE doubles over exactly-representable integer
    operands, so ``floor`` lands identically on any engine.

    Returns (host, rank_micro bigint, out_weight bigint) — out_weight
    0 for dangling hosts.
    """
    # every iteration re-reads ``edges`` inside ONE lazy plan, so Spark's
    # exchange reuse computes their aggregate once; nothing is cached (a
    # persist() here outlived the call in the session's cache)
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    outdeg = edges.groupBy("src_host").agg(F.sum("weight").cast("bigint").alias("od"))
    ranks = nodes.select("host", F.lit(_SCALE).cast("bigint").alias("r"))
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges.src_host == ranks.host)
            .join(outdeg, "src_host")
            .groupBy(F.col("dst_host").alias("host"))
            .agg(
                F.sum(F.expr("cast(floor((r * weight) / od) as bigint)"))
                .cast("bigint")
                .alias("c")
            )
        )
        ranks = nodes.join(contribs, "host", "left").select(
            "host",
            F.expr(
                f"cast({_SCALE * 3 // 20} + cast(floor((coalesce(c, 0) * "
                f"{_DAMP_NUM}) / {_DAMP_DEN_SQL}) as bigint) as bigint)"
            ).alias("r"),
        )
    return (
        nodes.join(ranks, "host")
        .join(outdeg.select(F.col("src_host").alias("host"), "od"), "host", "left")
        .select(
            "host",
            F.col("r").alias("rank_micro"),
            F.coalesce(F.col("od"), F.lit(0)).cast("bigint").alias("out_weight"),
        )
    )


def host_pagerank_from_pages(
    pages: DataFrame,
    iterations: int = 3,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """End-to-end: raw pages (url, html) -> host PageRank table."""
    return pagerank_fixed_point(
        host_link_edges(with_anchor_links(pages, html_col=html_col), url_col=url_col),
        iterations=iterations,
    )


def with_host_rank(
    pages: DataFrame, ranks: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Join the (small, O(hosts)) rank table back onto pages as a
    quality signal — broadcast by design: the rank side is millions of
    rows at worst while pages are billions."""
    return pages.withColumn("__host", host_expr(url_col)).join(
        F.broadcast(
            ranks.select(
                F.col("host").alias("__host"),
                F.col("rank_micro").alias("host_rank_micro"),
            )
        ),
        "__host",
        "left",
    ).drop("__host")


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented wedge join)


def undirected_edges(edges: DataFrame, src: str = "src_host",
                     dst: str = "dst_host") -> DataFrame:
    """Directed multigraph → simple undirected edge set: canonical
    (least, greatest) endpoint order, self-loops dropped, distinct."""
    lo = F.least(F.col(src), F.col(dst))
    hi = F.greatest(F.col(src), F.col(dst))
    return (
        edges.where(F.col(src) != F.col(dst))
        .select(lo.alias("u"), hi.alias("v"))
        .distinct()
    )


def triangles(edges: DataFrame, src: str = "src_host",
              dst: str = "dst_host") -> DataFrame:
    """All triangles, one row each: (node_a, node_b, node_c) ordered
    along the degree orientation.

    The scale-critical trick is the ORIENTATION: each undirected edge
    points from its (degree, node)-smaller endpoint to the larger, so
    the graph becomes a DAG whose out-degree is O(sqrt(m)) even when a
    hub's real degree is millions (the web's host graph is exactly that
    skewed).  The wedge self-join therefore blows up per-node as
    out-deg², bounded, instead of deg² on hubs; the closing edge check
    is one more equi-join.  Each triangle appears EXACTLY once.  All
    joins are equi-joins on node ids; nothing is broadcast or collected.
    """
    und = undirected_edges(edges, src, dst)
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    # orient: (deg, node) total order makes the DAG deterministic
    d1 = deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du")
    d2 = deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv")
    e = und.join(d1, "u").join(d2, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    e1 = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = oriented.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")  # x→y→z along the DAG
    e3 = oriented.select(F.col("a").alias("x"), F.col("b").alias("z"))
    return wedges.join(e3, ["x", "z"]).select(
        F.col("x").alias("node_a"), F.col("y").alias("node_b"),
        F.col("z").alias("node_c"),
    )


def triangle_participation(edges: DataFrame, src: str = "src_host",
                           dst: str = "dst_host") -> DataFrame:
    """(node, n_triangles): how many triangles each node belongs to —
    the classic spam/community signal on a host graph."""
    tri = triangles(edges, src, dst)
    nodes = (
        tri.select(F.col("node_a").alias("node"))
        .unionAll(tri.select(F.col("node_b").alias("node")))
        .unionAll(tri.select(F.col("node_c").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
