"""Web link graph + fixed-point host PageRank (operators/linkgraph.py)."""

import math

from pyspark.sql import functions as F

from osm_chordify_spark.operators import linkgraph as LG


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, html string")


def test_anchor_extraction_and_host_parse(spark):
    pages = _pages(
        spark,
        [
            (
                "https://a.example.org/p/1",
                '<a href="https://b.example.org/x">t</a> mid '
                '<a href="/relative/path">r</a>'
                '<a href="HTTPS://C.Example.ORG:8443/y?q=1">u</a>',
            ),
            ("https://a.example.org/p/2", "<p>no links</p>"),
        ],
    )
    got = {
        r.url: r.hrefs
        for r in LG.with_anchor_links(pages).select("url", "hrefs").collect()
    }
    assert got["https://a.example.org/p/1"] == [
        "https://b.example.org/x",
        "/relative/path",
        "HTTPS://C.Example.ORG:8443/y?q=1",
    ]
    assert got["https://a.example.org/p/2"] == []
    hosts = pages.select(LG.host_expr("url").alias("h")).distinct().collect()
    assert {r.h for r in hosts} == {"a.example.org"}


def test_host_link_edges_weights_and_filters(spark):
    pages = _pages(
        spark,
        [
            # two links a->b (weight 2), one a->a self loop, one relative
            # (dropped: no scheme/host)
            (
                "https://a.org/1",
                '<a href="https://b.org/x">.</a><a href="https://b.org/y">.</a>'
                '<a href="https://a.org/z">.</a><a href="/rel">.</a>',
            ),
            # uppercase scheme/host still parses; c->b
            ("HTTPS://C.org/1", '<a href="https://B.org/q">.</a>'),
        ],
    )
    edges = LG.host_link_edges(LG.with_anchor_links(pages))
    got = {(r.src_host, r.dst_host): r.weight for r in edges.collect()}
    assert got == {("a.org", "b.org"): 2, ("a.org", "a.org"): 1, ("c.org", "b.org"): 1}
    no_loops = LG.host_link_edges(LG.with_anchor_links(pages), drop_self_loops=True)
    assert ("a.org", "a.org") not in {
        (r.src_host, r.dst_host) for r in no_loops.collect()
    }


def _expected_fixed_point(edge_list, iterations):
    """Pure-python replication of the bigint micro-rank update (python
    floats are IEEE doubles, so floor() matches the engines exactly)."""
    nodes = sorted({s for s, _, _ in edge_list} | {d for _, d, _ in edge_list})
    od = {}
    for s, _, w in edge_list:
        od[s] = od.get(s, 0) + w
    r = {h: 1_000_000_000_000 for h in nodes}
    for _ in range(iterations):
        c = {h: 0 for h in nodes}
        for s, d, w in edge_list:
            c[d] += math.floor((r[s] * w) / od[s])
        r = {h: 150_000_000_000 + math.floor((c[h] * 17) / 20.0) for h in nodes}
    return r, od


def test_pagerank_fixed_point_matches_reference_arithmetic(spark):
    edge_list = [
        ("a", "b", 2),
        ("b", "a", 1),
        ("a", "c", 1),
        ("c", "a", 3),
        ("c", "b", 1),
        ("d", "a", 1),  # d is dangling-in only as source; no in-links
    ]
    edges = spark.createDataFrame(
        edge_list, "src_host string, dst_host string, weight long"
    )
    out = {
        r.host: (r.rank_micro, r.out_weight)
        for r in LG.pagerank_fixed_point(edges, iterations=3).collect()
    }
    exp_r, exp_od = _expected_fixed_point(edge_list, 3)
    assert {h: v[0] for h, v in out.items()} == exp_r
    assert {h: v[1] for h, v in out.items()} == {
        h: exp_od.get(h, 0) for h in exp_r
    }
    # sanity: the micro-ranks approximate float PageRank-with-leak
    rf = {h: 1.0 for h in exp_r}
    for _ in range(3):
        c = {h: 0.0 for h in exp_r}
        for s, d, w in edge_list:
            c[d] += rf[s] * w / exp_od[s]
        rf = {h: 0.15 + 0.85 * c[h] for h in exp_r}
    for h in exp_r:
        assert abs(out[h][0] / 1e12 - rf[h]) < 1e-9


def test_pagerank_leaves_no_cached_frame(spark):
    """A call caches nothing for the rest of the session: the session's
    cache manager is as empty after the call as before it."""
    edges = spark.createDataFrame(
        [("a", "b", 2), ("b", "a", 1), ("a", "c", 1)],
        "src_host string, dst_host string, weight long",
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    assert len(LG.pagerank_fixed_point(edges, iterations=2).collect()) == 3
    assert cache.isEmpty()


def test_with_host_rank_join(spark):
    pages = _pages(spark, [("https://a.org/1", "x"), ("https://zzz.org/1", "x")])
    ranks = spark.createDataFrame(
        [("a.org", 1_230_000_000_000, 4)],
        "host string, rank_micro long, out_weight long",
    )
    got = {
        r.url: r.host_rank_micro
        for r in LG.with_host_rank(pages, ranks).collect()
    }
    assert got["https://a.org/1"] == 1_230_000_000_000
    assert got["https://zzz.org/1"] is None


def test_pagerank_scale_invariance(spark):
    """Same graph, different partitioning → identical bigint ranks
    (the order-independence claim that float PageRank can't make)."""
    edge_list = [(f"h{i}", f"h{(i * 3 + 1) % 40}", 1 + i % 5) for i in range(200)]
    edges = spark.createDataFrame(
        edge_list, "src_host string, dst_host string, weight long"
    )
    a = LG.pagerank_fixed_point(edges.repartition(1), iterations=2).collect()
    b = LG.pagerank_fixed_point(edges.repartition(16), iterations=2).collect()
    assert {(r.host, r.rank_micro) for r in a} == {(r.host, r.rank_micro) for r in b}


# ---------------------------------------------------------------------------
# Triangle counting


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src_host string, dst_host string"
    )


def test_triangles_k4_and_path(spark):
    from osm_chordify_spark.operators.linkgraph import (
        triangle_participation,
        triangles,
    )

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    tri = triangles(_edges(spark, k4)).collect()
    assert len(tri) == 4  # C(4,3), each exactly once
    assert len({tuple(sorted((r[0], r[1], r[2]))) for r in tri}) == 4
    part = {r["node"]: r["n_triangles"]
            for r in triangle_participation(_edges(spark, k4)).collect()}
    assert part == {"a": 3, "b": 3, "c": 3, "d": 3}

    path = [("a", "b"), ("b", "c"), ("c", "d")]
    assert triangles(_edges(spark, path)).count() == 0


def test_triangles_ignore_direction_loops_and_dups(spark):
    from osm_chordify_spark.operators.linkgraph import triangles

    messy = [
        ("a", "b"), ("b", "a"), ("a", "a"),  # dup direction + self-loop
        ("b", "c"), ("c", "a"), ("a", "b"),
    ]
    tri = triangles(_edges(spark, messy)).collect()
    assert len(tri) == 1
    assert tuple(sorted(tri[0])) == ("a", "b", "c")


def test_triangles_match_brute_force(spark):
    """Pseudo-random graph vs itertools brute force."""
    from itertools import combinations

    from osm_chordify_spark.operators.linkgraph import triangles

    pairs = set()
    x = 11
    for _ in range(160):
        x = (x * 1103515245 + 12345) % (1 << 31)
        u, v = (x >> 3) % 17, (x >> 9) % 17
        if u != v:
            pairs.add((min(u, v), max(u, v)))
    got = triangles(_edges(spark, sorted(pairs))).count()
    adj = {(str(a), str(b)) for a, b in pairs} | {
        (str(b), str(a)) for a, b in pairs
    }
    nodes = sorted({n for e in adj for n in e})
    want = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in adj and (a, c) in adj and (b, c) in adj
    )
    assert want > 0 and got == want
