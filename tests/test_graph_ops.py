"""Graph operator tests: components, chordify, topology, consolidation.

Semantics ported from reference tests/test_graph.py (cited per test)."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_chordify_spark import geom as G
from osm_chordify_spark.operators import graph as GR


def _edges(spark, rows, extra_cols=()):
    """rows: (u, v, key, osmid, length, highway, oneway) (+extras)."""
    cols = ["u", "v", "key", "osmid", "length", "highway", "oneway", *extra_cols]
    pdf = pd.DataFrame(rows, columns=cols)

    def line(u, v):
        return G.wkb_linestring([[float(u), 0.0], [float(v), 0.0]])

    pdf["geometry"] = [line(r[0], r[1]) for r in rows]
    return spark.createDataFrame(pdf)


def test_connected_components_basic(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    comp = GR.connected_components(pairs).toPandas().set_index("id")["component"]
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert 20 not in comp.index  # self-pair filtered; isolated not listed


def test_connected_components_long_chain(spark):
    """Pointer doubling must converge on a long path in O(log n) rounds."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    comp = GR.connected_components(pairs, max_iter=12).toPandas()
    assert set(comp["component"]) == {0}
    assert len(comp) == n + 1


def test_chordify_simple_chain(spark):
    """Path 1→2→3→4 with identical attrs collapses into one chord with
    summed length and concatenated geometry (reference graph.py:922-962)."""
    rows = [
        (1, 2, 0, 101, 1.0, "residential", "yes"),
        (2, 3, 0, 102, 1.0, "residential", "yes"),
        (3, 4, 0, 103, 1.0, "residential", "yes"),
    ]
    out = GR.chordify(_edges(spark, rows), edge_attrs_differ=["highway"]).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["u"], r["v"]) == (1, 4)
    assert r["length"] == 3.0
    assert sorted(r["merged_osmids"]) == [101, 102, 103]
    kind, coords = G.parse_wkb(bytes(r["geometry"]))
    assert kind == "linestring"
    assert coords[0].tolist() == [1.0, 0.0] and coords[-1].tolist() == [4.0, 0.0]


def test_chordify_attr_boundary_stops_chain(spark):
    """Attribute change at a node makes it an endpoint."""
    rows = [
        (1, 2, 0, 101, 1.0, "residential", "yes"),
        (2, 3, 0, 102, 1.0, "primary", "yes"),  # highway differs at node 2
        (3, 4, 0, 103, 1.0, "primary", "yes"),
    ]
    out = GR.chordify(_edges(spark, rows), edge_attrs_differ=["highway"]).toPandas()
    # node 2 not collapsible (attr variants 2); node 3 collapsible
    assert len(out) == 2
    uv = sorted((r.u, r.v) for r in out.itertuples())
    assert uv == [(1, 2), (2, 4)]


def test_chordify_junction_is_endpoint(spark):
    """Degree-3 node stays an endpoint."""
    rows = [
        (1, 2, 0, 1, 1.0, "r", "yes"),
        (2, 3, 0, 2, 1.0, "r", "yes"),
        (2, 9, 0, 3, 1.0, "r", "yes"),  # branch at node 2
    ]
    out = GR.chordify(_edges(spark, rows), edge_attrs_differ=["highway"]).toPandas()
    assert len(out) == 3  # nothing collapses


def test_chordify_bidirectional_chain(spark):
    """Two-way street: both directions collapse, separately."""
    rows = [
        (1, 2, 0, 1, 1.0, "r", "no"),
        (2, 3, 0, 2, 1.0, "r", "no"),
        (3, 2, 0, 2, 1.0, "r", "no"),
        (2, 1, 0, 1, 1.0, "r", "no"),
    ]
    out = GR.chordify(_edges(spark, rows), edge_attrs_differ=["highway"]).toPandas()
    assert len(out) == 2
    uv = sorted((r.u, r.v) for r in out.itertuples())
    assert uv == [(1, 3), (3, 1)]
    assert all(out["length"] == 2.0)


def test_chordify_yes_no_and_bool_aggs(spark):
    rows = [
        (1, 2, 0, 1, 1.0, "r", "yes"),
        (2, 3, 0, 2, 1.0, "r", "no"),
    ]
    out = GR.chordify(_edges(spark, rows), edge_attrs_differ=["highway"]).toPandas()
    assert out.iloc[0]["oneway"] == "no"  # yes_no_all folds to "no"


def test_validate_topology_self_loops(spark):
    """reference tests/test_graph.py:142-173: unprotected self-loop
    removed; protected (motorway) retained."""
    rows = [
        (1, 1, 0, 1, 1.0, "residential", "yes"),  # removable loop
        (2, 2, 0, 2, 1.0, "motorway", "yes"),  # protected loop
        (2, 3, 0, 3, 1.0, "residential", "yes"),
    ]
    edges = _edges(spark, rows)
    nodes = spark.createDataFrame(
        pd.DataFrame({"node_id": [1, 2, 3, 99], "x": [0.0] * 4, "y": [0.0] * 4})
    )
    kn, ke = GR.validate_topology(nodes, edges)
    ke_p = ke.toPandas()
    assert len(ke_p) == 2
    assert set(ke_p["u"]) == {2}
    # isolated nodes 1 (loop removed) and 99 dropped
    assert sorted(kn.toPandas()["node_id"]) == [2, 3]


def test_validate_topology_empty_raises(spark):
    rows = [(1, 1, 0, 1, 1.0, "residential", "yes")]
    edges = _edges(spark, rows)
    nodes = spark.createDataFrame(pd.DataFrame({"node_id": [1], "x": [0.0], "y": [0.0]}))
    with pytest.raises(ValueError, match="empty"):
        GR.validate_topology(nodes, edges)


def test_duplicate_edge_id_suffixing(spark):
    """reference graph.py:411-424 / tests/test_graph.py:218-232."""
    rows = [
        (1, 2, 0, 1, 1.0, "r", "yes"),
        (2, 3, 0, 2, 1.0, "r", "yes"),
        (3, 4, 0, 3, 1.0, "r", "yes"),
    ]
    edges = _edges(spark, rows).withColumn("edge_id", F.lit("dup"))
    nodes = spark.createDataFrame(
        pd.DataFrame({"node_id": [1, 2, 3, 4], "x": [0.0] * 4, "y": [0.0] * 4})
    )
    _, ke = GR.validate_topology(nodes, edges)
    ids = sorted(ke.toPandas()["edge_id"])
    assert ids == ["dup", "dup_1", "dup_2"]


def test_create_unique_edge_id_matches_hashlib(spark):
    """reference tests/test_graph.py:604-627: md5 hash parity."""
    rows = [(5, 7, 0, 42, 1.0, "r", "yes")]
    out = GR.create_unique_edge_id(_edges(spark, rows)).toPandas()
    expected = hashlib.md5("5_7_0_42".encode()).hexdigest()[:12]
    assert out.iloc[0]["edge_id"] == expected
    assert len(out.iloc[0]["edge_id"]) == 12


def test_create_unique_edge_id_sorted_list(spark):
    pdf = pd.DataFrame(
        {"u": [5], "v": [7], "key": [0], "osmid": [[9, 3, 12]]}
    )
    df = spark.createDataFrame(pdf)
    out = GR.create_unique_edge_id(df).toPandas()
    expected = hashlib.md5("5_7_0_3_9_12".encode()).hexdigest()[:12]
    assert out.iloc[0]["edge_id"] == expected


def test_consolidate_nodes(spark):
    """Nodes within tolerance merge to centroid; edges remap
    (reference graph.py:908-915)."""
    nodes = spark.createDataFrame(
        pd.DataFrame(
            {
                "node_id": [1, 2, 3],
                "x": [0.0, 0.5, 100.0],
                "y": [0.0, 0.0, 0.0],
            }
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"u": [1, 2], "v": [3, 3], "key": [0, 0]})
    )
    nn, ne = GR.consolidate_nodes(nodes, edges, tolerance=1.0)
    nn_p = nn.toPandas().sort_values("node_id")
    assert len(nn_p) == 2
    merged = nn_p[nn_p["node_id"] == 1].iloc[0]
    assert merged["x"] == 0.25  # centroid of 0.0 and 0.5
    ne_p = ne.toPandas()
    assert set(ne_p["u"]) == {1}  # node 2 remapped to cluster 1
    assert set(ne_p["v"]) == {3}


def test_largest_component(spark):
    nodes = spark.createDataFrame(
        pd.DataFrame({"node_id": [1, 2, 3, 10, 11], "x": [0.0] * 5, "y": [0.0] * 5})
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"u": [1, 2, 10], "v": [2, 3, 11], "key": [0, 0, 0]})
    )
    kn, ke = GR.largest_component(nodes, edges)
    assert sorted(kn.toPandas()["node_id"]) == [1, 2, 3]
    assert len(ke.toPandas()) == 2


def test_add_edge_speeds(spark):
    pdf = pd.DataFrame(
        {
            "u": [1, 2, 3, 4],
            "v": [2, 3, 4, 5],
            "key": [0] * 4,
            "highway": ["residential", "residential", "primary", "primary"],
            "maxspeed": ["50", None, "30 mph", None],
        }
    )
    out = GR.add_edge_speeds(spark.createDataFrame(pdf)).toPandas().sort_values("u")
    # "50" kph → 31 mph → back to 31*1.60934 kph
    assert abs(out.iloc[0]["speed_kph"] - 31 * 1.60934) < 1e-9
    # missing residential falls back to the residential type mean (= row 0's)
    assert out.iloc[1]["speed_kph"] == out.iloc[0]["speed_kph"]
    assert abs(out.iloc[2]["speed_kph"] - 30 * 1.60934) < 1e-9
    assert out.iloc[3]["speed_kph"] == out.iloc[2]["speed_kph"]


def test_filter_boundaries_by_density(spark):
    pdf = pd.DataFrame(
        {
            "GEOID": ["a", "b", "c", "d"],
            "population": [100.0, 1000.0, 5000.0, 10.0],
            "area_m2": [1e6, 1e6, 1e6, 1e6],
        }
    )
    out = GR.filter_boundaries_by_density(
        spark.createDataFrame(pdf), min_density_pctile=50.0
    ).toPandas()
    # pandas rank(pct=True)*100: ranks 1..4 → 25/50/75/100; ≥50 keeps
    # the rank-2 row too (Spark percent_rank would give it 33.3 — the
    # reference semantics differ, see ADVICE r1)
    assert sorted(out["GEOID"]) == ["a", "b", "c"]
    assert (out["density_pctile"] >= 50.0).all()
    assert out.loc[out.GEOID == "c", "density_per_km2"].iloc[0] == 5000.0
    assert out.loc[out.GEOID == "a", "density_pctile"].iloc[0] == 50.0


def test_chordify_parallel_multigraph_edges_no_double_count(spark):
    """Parallel multigraph edges (two 1→2 plus two 2→3 with identical
    attrs) make node 2 pass the interstitial filter while breaking the
    functional-chain precondition (each edge has 2 successors).  The
    fan-out guard must fall back to generic connected components: ONE
    chord, lengths summed once — never duplicated chain rows or
    double-counted aggregates."""
    rows = [
        (1, 2, 0, 101, 1.0, "residential", "yes"),
        (1, 2, 1, 102, 1.0, "residential", "yes"),
        (2, 3, 0, 103, 1.0, "residential", "yes"),
        (2, 3, 1, 104, 1.0, "residential", "yes"),
    ]
    out = GR.chordify(_edges(spark, rows), edge_attrs_differ=["highway"]).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["length"] == 4.0  # each edge counted exactly once
    assert sorted(r["merged_osmids"]) == [101, 102, 103, 104]


def test_chordify_ring_chain(spark):
    """A directed 4-cycle where every node is interstitial: the pair
    graph is a ring (no head, so no free list rank) — the ring fallback
    must still produce ONE chord with all edges counted once
    (remove_rings=False semantics)."""
    rows = [
        (1, 2, 0, 101, 1.0, "residential", "yes"),
        (2, 3, 0, 102, 1.0, "residential", "yes"),
        (3, 4, 0, 103, 1.0, "residential", "yes"),
        (4, 1, 0, 104, 1.0, "residential", "yes"),
    ]
    out = GR.chordify(_edges(spark, rows), edge_attrs_differ=["highway"]).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["length"] == 4.0
    assert sorted(r["merged_osmids"]) == [101, 102, 103, 104]
    assert r["u"] == r["v"]  # ring collapses to a self-loop chord


def test_process_ferry_edges_default_allow(spark):
    """reference graph.py:112-166: access is default-ALLOW; only explicit
    motorcar='no' / motor_vehicle='no' deny; kept edges get the constant
    ferry attrs; node table shrinks to used nodes."""
    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "u": [1, 2, 3, 4],
                "v": [2, 3, 4, 5],
                "key": [0, 0, 0, 0],
                "motorcar": [None, "no", "yes", None],
                "motor_vehicle": [None, None, None, "no"],
                "maxspeed": ["30 mph", None, "20", None],
            }
        )
    )
    nodes = spark.createDataFrame(
        pd.DataFrame({"node_id": [1, 2, 3, 4, 5, 99],
                      "x": [0.0] * 6, "y": [0.0] * 6})
    )
    kn, ke = GR.process_ferry_edges(nodes, edges)
    out = ke.toPandas().sort_values("u")
    # row (2,3) denied by motorcar='no'; row (4,5) denied by motor_vehicle='no'
    assert list(out["u"]) == [1, 3]
    assert set(out["maxspeed"]) == {"10 mph"}
    assert set(out["highway"]) == {"unclassified"}
    assert set(out["oneway"]) == {"no"}
    assert set(out["lanes"]) == {"2"}
    assert not out["hgv"].any() and out["mdv"].all()
    # used nodes only: {1,2} ∪ {3,4}; node 5 and 99 dropped
    assert sorted(kn.toPandas()["node_id"]) == [1, 2, 3, 4]


def test_simplify_edge_geometries_tolerance_and_topology(spark):
    """DP simplification: endpoints survive, every surviving vertex is
    an original vertex, and no original vertex deviates more than
    tolerance from the simplified line."""
    import numpy as np
    import pandas as pd

    from osm_chordify_spark import geom as G2
    from osm_chordify_spark.operators.graph import simplify_edge_geometries

    rng = np.random.default_rng(53)
    rows = []
    originals = {}
    for eid in range(40):
        n = rng.integers(5, 40)
        xs = np.cumsum(rng.uniform(0.5, 2.0, n)) + eid * 100
        ys = np.cumsum(rng.normal(0, 0.4, n))
        line = np.stack([xs, ys], axis=1)
        originals[eid] = line
        rows.append((eid, G2.wkb_linestring(line)))
    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["eid", "geometry"]))
    tol = 0.5
    out = simplify_edge_geometries(edges, tol).toPandas().set_index("eid")
    for eid, line in originals.items():
        simp = G2.geometry_lines(bytes(out.loc[eid, "geometry"]))[0]
        assert len(simp) <= len(line)
        assert np.allclose(simp[0], line[0]) and np.allclose(simp[-1], line[-1])
        # subsequence property
        orig_set = {tuple(p) for p in np.round(line, 9)}
        assert all(tuple(p) in orig_set for p in np.round(simp, 9))
        # tolerance guarantee: every original vertex within tol of the
        # simplified polyline
        for p in line:
            best = np.inf
            for i in range(len(simp) - 1):
                best = min(best, float(G2.point_segment_dist(
                    p[0], p[1], simp[i, 0], simp[i, 1],
                    simp[i + 1, 0], simp[i + 1, 1])))
            assert best <= tol + 1e-9


def test_chordify_rings_fully_relational_no_python_ordering(spark, monkeypatch):
    """Ring-heavy input on the specialized (functional) path must never
    reach the per-chain Python ordering: the second anchor-cut Wyllie
    pass ranks rings relationally (VERDICT r3 #8).  Geometry order and
    merged ids must match the old ordering's deterministic contract
    (start at the min edge id, walk successors)."""
    import osm_chordify_spark.operators.graph as GRm

    rows = []
    osmid = 100
    # 30 disjoint directed rings of varying size + a plain chain
    node = 1000
    for n in (3, 4, 5, 6, 7):
        for _ in range(6):
            ids = [node + i for i in range(n)]
            node += n
            for i in range(n):
                rows.append((ids[i], ids[(i + 1) % n], 0, osmid, 1.0,
                             "residential", "yes"))
                osmid += 1
    chain_ids = [node + i for i in range(5)]
    for i in range(4):
        rows.append((chain_ids[i], chain_ids[i + 1], 0, osmid, 1.0,
                     "residential", "yes"))
        osmid += 1

    real = GRm._grouped_map
    calls = {"n": 0}

    def spy(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(GRm, "_grouped_map", spy)
    out = GRm.chordify(_edges(spark, rows), edge_attrs_differ=["highway"]).toPandas()
    assert calls["n"] == 0  # no Python ordering anywhere in phase A
    assert len(out) == 31  # 30 ring chords + 1 chain chord
    rings = out[out["u"] == out["v"]]
    assert len(rings) == 30
    assert (rings["length"].isin([3.0, 4.0, 5.0, 6.0, 7.0])).all()
    # every merged id appears exactly once across all chords
    merged = sorted(x for xs in out["merged_osmids"] for x in xs)
    assert merged == list(range(100, osmid))
    # geometry of each ring chord is a closed walk from the anchor edge
    for _, r in rings.iterrows():
        lines = G.geometry_lines(bytes(r["geometry"]))
        pts = np.vstack(lines)
        assert tuple(pts[0]) == tuple(pts[-1])  # closed ring walk


# chain lengths (edges) on both sides of every doubling-step boundary: a
# vertex at distance d from its head is rooted after s steps iff
# d ≤ 2^s − 1, and a chain of n edges has its last edge at distance n − 1
CHAIN_LENGTHS = (1, 2, 3, 4, 5, 7, 8, 9, 31, 32, 33, 63, 64, 65)


def _road_graph(spark, seed, chains, rings=(), two_way=False, breaks=False):
    """Seeded road graph for the chordify exactness tests → (edges
    DataFrame, the same rows in pandas).  One-way chains of each length
    in ``chains`` and one-way rings of each size in ``rings``; with
    ``two_way`` also a two-way copy of every chain and one two-way ring;
    with ``breaks`` two chains and a ring cut by a highway change.
    Nodes sit at random points and every edge has a random interior
    vertex, so geometry bytes do not sort in path order."""
    rng = np.random.default_rng(seed)
    xy, rows = [], []

    def nodes(n):
        xy.extend(rng.uniform(-500, 500, (n, 2)))
        return list(range(len(xy) - n, len(xy)))

    def path(ns, highways, both=False):
        for a, b, hw in zip(ns, ns[1:], highways):
            line = np.array([xy[a], rng.uniform(-500, 500, 2), xy[b]])
            for u, v, coords in ((a, b, line), (b, a, line[::-1]))[: 1 + both]:
                rows.append((u, v, 0, 1000 + len(rows), rng.integers(1, 40) / 4,
                             hw, rng.choice(["yes", "no"]),
                             G.wkb_linestring(coords)))

    for n in chains:
        path(nodes(n + 1), ["residential"] * n)
        if two_way:
            path(nodes(n + 1), ["residential"] * n, both=True)
    for n in rings:
        ring = nodes(n)
        path(ring + ring[:1], ["residential"] * n)
    if two_way:
        ring = nodes(6)
        path(ring + ring[:1], ["service"] * 6, both=True)
    if breaks:
        for n, cut in ((9, 4), (33, 16)):
            path(nodes(n + 1), ["residential"] * cut + ["primary"] * (n - cut))
        ring = nodes(8)  # two break nodes: two chains, no ring
        path(ring + ring[:1], ["residential"] * 6 + ["primary"] * 2)
    cols = ["u", "v", "key", "osmid", "length", "highway", "oneway", "geometry"]
    pdf = pd.DataFrame(rows, columns=cols)
    return spark.createDataFrame(pdf), pdf


def _python_chordify(pdf, eids):
    """Plain-Python chordify of a graph without parallel edges or
    self-loops: interstitial nodes by the OSMnx rule, then a walk along
    each edge's unique successor from every edge without a predecessor,
    and round each ring from its min edge id.  Returns sorted row
    tuples in chordify's column order."""
    recs = pdf.to_dict("records")
    for r, eid in zip(recs, eids):
        r["eid"] = eid
    outs, ins, nbrs, hws = {}, {}, {}, {}
    for r in recs:
        outs.setdefault(r["u"], []).append(r)
        ins.setdefault(r["v"], []).append(r)
        for n, m in ((r["u"], r["v"]), (r["v"], r["u"])):
            nbrs.setdefault(n, set()).add(m)
            hws.setdefault(n, set()).add(r["highway"])
    inter = {
        n for n in nbrs
        if len(nbrs[n]) == 2 and len(hws[n]) == 1
        and len(ins.get(n, [])) == len(outs.get(n, [])) in (1, 2)
    }
    succ = {}
    for r in recs:
        if r["v"] in inter:
            (succ[r["eid"]],) = [f for f in outs[r["v"]] if f["v"] != r["u"]]
    has_pred = {f["eid"] for f in succ.values()}
    walks = []
    for r in recs:
        if r["eid"] not in has_pred:
            walks.append([r])
            while walks[-1][-1]["eid"] in succ:
                walks[-1].append(succ[walks[-1][-1]["eid"]])
    seen = {r["eid"] for w in walks for r in w}
    for r in sorted(recs, key=lambda r: r["eid"]):
        if r["eid"] not in seen:
            walks.append([r])
            while succ[walks[-1][-1]["eid"]]["eid"] != r["eid"]:
                walks[-1].append(succ[walks[-1][-1]["eid"]])
            seen.update(f["eid"] for f in walks[-1])
    out = []
    for w in walks:
        if len(w) == 1:
            r = w[0]
            out.append((r["u"], r["v"], r["key"], r["osmid"], r["length"],
                        r["highway"], r["oneway"], r["geometry"], (r["osmid"],)))
            continue
        lines = [G.geometry_lines(f["geometry"])[0] for f in w]
        osmids = tuple(sorted(f["osmid"] for f in w))
        out.append((
            w[0]["u"], w[-1]["v"], 0, osmids[0],
            round(sum(f["length"] for f in w), 3), w[0]["highway"],
            "no" if any(f["oneway"] == "no" for f in w) else "yes",
            G.wkb_linestring(np.vstack([lines[0]] + [c[1:] for c in lines[1:]])),
            osmids,
        ))
    return sorted(out)


def _chordify_rows(edges):
    out = GR.chordify(edges, edge_attrs_differ=["highway"])
    assert out.columns == ["u", "v", "key", "osmid", "length", "highway",
                           "oneway", "geometry", "merged_osmids"]
    return sorted(
        (r.u, r.v, r.key, r.osmid, r.length, r.highway, r.oneway,
         bytes(r.geometry), tuple(r.merged_osmids))
        for r in out.collect()
    )


def _edge_eids(edges):
    return [r["__eid"] for r in GR._edge_ids(edges).select("__eid").collect()]


# the three graphs exit the list ranking three ways: the mixed graph runs
# both passes to the step budget (its rings never root), the chain-only
# graph exits on the all-rooted probe, and the last one has a step budget
# with no slack (33 + 3 pairs: 6 steps, and its chain needs all 6)
_CHORD_GRAPHS = {
    "mixed": dict(seed=11, chains=CHAIN_LENGTHS,
                  rings=(3, 4, 5, 8, 9, 16, 17, 33), two_way=True, breaks=True),
    "chains": dict(seed=12, chains=CHAIN_LENGTHS, two_way=True),
    "tight_budget": dict(seed=13, chains=(33,), rings=(3,)),
}


@pytest.mark.parametrize("graph", sorted(_CHORD_GRAPHS))
def test_chordify_matches_python_chain_walk(spark, graph):
    """chordify equals a plain-Python chain walk row for row — endpoints,
    aggregated attrs, merged_osmids and geometry bytes — on seeded graphs
    with chains of every length around each doubling-step boundary,
    one-way and two-way rings (the second Wyllie pass) and attribute
    breaks.  A doubling that stops one step early leaves the far end of
    the longest chain unranked; an off-by-one ``dp`` reorders or ties
    path positions, which moves geometry bytes."""
    edges, pdf = _road_graph(spark, **_CHORD_GRAPHS[graph])
    got = _chordify_rows(edges)
    assert got == _python_chordify(pdf, _edge_eids(edges))
    assert len(got) < len(pdf)


def test_chordify_shuffled_joins_same_output(spark):
    """With broadcast joins disabled every doubling step plans the
    shuffled join a lake-scale state gets; the output must not change."""
    edges, pdf = _road_graph(spark, **_CHORD_GRAPHS["mixed"])
    want = _python_chordify(pdf, _edge_eids(edges))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        got = _chordify_rows(edges)
    finally:
        spark.conf.set(key, old)
    assert got == want


def test_summarize_graph_validation_connectivity_and_examples(spark):
    """The non-oracle pieces of the A13 bundle: weak connectivity
    (iterative CC), the protected self-loop split on array-valued
    highway + backbone attrs, and the deterministic top-5 example
    lists (reference graph.py:532-560)."""
    from osm_chordify_spark.operators.diagnostics import (
        summarize_graph_validation,
    )

    nodes = spark.createDataFrame(
        pd.DataFrame({
            "node_id": [1, 2, 3, 4, 5, 6],
            "x": [0.0, 1.0, 2.0, 2.0, 50.0, 60.0],
            "y": [0.0, 0.0, 0.0, 0.0, 5.0, 6.0],
        })
    )
    edges = spark.createDataFrame(
        pd.DataFrame({
            "u": [1, 2, 3, 4, 5],
            "v": [2, 3, 1, 4, 5],
            "length": [1.0, 1.0, 2.0, 0.5, 0.5],
            "highway": [["residential"], ["motorway", "service"],
                        ["service"], ["service"], ["service"]],
            "layer_role": [None, None, None, "backbone", None],
        })
    )
    s = summarize_graph_validation(nodes, edges, close_threshold=0.5)
    assert s["nodes"] == 6 and s["edges"] == 5
    assert s["self_loops"] == 2
    # node 4's loop is layer_role backbone -> protected; node 5's isn't
    assert s["protected_self_loops"] == 1
    assert s["unprotected_self_loops"] == 1
    assert s["isolated_nodes"] == 1  # node 6
    # components: {1,2,3} + loop-island {4} + loop-island {5} + isolate
    assert s["weakly_connected"] is False
    assert s["duplicate_coordinate_groups"] == 1  # nodes 3 and 4
    assert s["duplicate_examples"][0][2] == [3, 4]
    assert s["close_node_pairs"] == 1
    assert s["close_examples"][0][:2] == (3, 4)
    # array highway explodes per element
    assert s["highway_type_counts"]["service"] == 4
    assert s["highway_type_counts"]["motorway"] == 1

    # fully connected, no anomalies -> weakly_connected True
    n2 = spark.createDataFrame(
        pd.DataFrame({"node_id": [1, 2, 3],
                      "x": [0.0, 1.0, 2.0], "y": [0.0] * 3})
    )
    e2 = spark.createDataFrame(
        pd.DataFrame({"u": [1, 2], "v": [2, 3], "length": [1.0, 1.0],
                      "highway": ["service", "service"]})
    )
    s2 = summarize_graph_validation(n2, e2, close_threshold=0.5)
    assert s2["weakly_connected"] is True and s2["isolated_nodes"] == 0
