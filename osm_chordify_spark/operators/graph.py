"""Graph/dataflow operators — the "chordify" core as DataFrame programs.

The reference holds the road network in a NetworkX MultiDiGraph and
delegates to OSMnx (reference: src/osm_chordify/osm/graph.py:742-1006).
Here the graph is always two DataFrames — nodes(node_id, x, y) and
edges(u, v, key, attrs…, geometry) — and every graph algorithm is an
iterative DataFrame program (the north_rule's "Spark graph contraction
… not a NetworkX port"):

* connected_components — min-label propagation + pointer doubling
  (O(log n) rounds), used for weak components (reference
  graph.py:987-1002) and for chordify's parallel-edge fallback;
* chordify — degree-2 node collapse (reference graph.py:922-962,
  OSMnx simplify_graph): interstitial-node marking via degree/attr
  aggregation, chain ids and path order by Wyllie list ranking over the
  edge adjacency, attribute aggregation with functions/aggregates.py
  (A1–A9 semantics);
* validate_topology — protected-self-loop split, isolate removal,
  duplicate edge-id suffixing (reference graph.py:346-474);
* consolidate_nodes — tolerance-radius node merge via close-pair cell
  join + components (reference graph.py:908-915,
  ox.consolidate_intersections);
* largest_component retention (reference graph.py:987-1002).

Scale: the iterative loops end every round (CC) or step (list ranking)
in ``functions.materialize``, which truncates lineage, hands the next
round the state's measured size (Spark's own broadcast threshold then
replicates the state or shuffles on the key) and observes the exit test
on the same job.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_chordify_spark import geom as G
from osm_chordify_spark.functions import materialize as MZ
from osm_chordify_spark.functions.aggregates import chord_agg_exprs
from osm_chordify_spark.functions.tags import is_truthy_osm_tag

PROTECTED_HIGHWAY_TYPES = (
    "motorway", "motorway_link", "trunk", "trunk_link", "primary", "primary_link",
)  # reference graph.py:42-49


# ---------------------------------------------------------------------------
# connected components


DOUBLINGS_PER_ROUND = 3  # lazy pointer doublings per CC round


def _min_label_prop(arcs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Min-label propagation along directed arcs (a → b) + pointer
    doubling → (id, label) where label = min vertex with a directed path
    to id (including id itself); vertices are a∪b.

    Doubling stays valid in the directed case: label[v] = u certifies a
    path u→v and label[u] = w a path w→u, hence w→v.

    Restructured for driver-side job economy (the 100× scale bottleneck
    here is orchestration, not data): each round composes one
    neighbor-min step and ``DOUBLINGS_PER_ROUND`` pointer-doubling
    self-joins LAZILY and ends in ONE ``materialize`` whose observed
    probe counts the changed labels, so the probe costs no job of its
    own.  Inside a round the lazy checkpoints carry the join's product
    estimate (see ``materialize``; an eager checkpoint would carry it
    too), so unless the state is a few KB the later doubling joins
    shuffle both sides (a 200-vertex path still broadcasts); the round-end
    state and the cached arcs carry measured sizes, so each round's
    first joins broadcast their small side."""
    # co-partitioned once, reused every round, and measured BEFORE any
    # round is planned on top, so every round's label/nmin sides
    # broadcast (an unfilled cache plans as never-broadcast: ~8 extra
    # exchanges in round 1 alone)
    arcs, _ = MZ.materialize(arcs.repartition(F.col("b")))
    labels, _ = MZ.checkpoint(
        arcs.select(F.col("a").alias("id"))
        .union(arcs.select(F.col("b").alias("id")))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        nmin = (
            arcs.join(labels, arcs.a == labels.id)
            .groupBy("b")
            .agg(F.min("label").alias("nl"))
        )
        cur = labels.join(nmin, labels.id == nmin.b, "left").select(
            F.col("id"),
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias(
                "label"
            ),
        ).localCheckpoint(eager=False)
        for _ in range(DOUBLINGS_PER_ROUND):
            # label ← min(label, label[label]); the lazy per-step
            # checkpoint collapses the otherwise-2^k self-join plan tree
            # to a linear chain (see _chain_components_rank for the why)
            lk = cur.select(F.col("id").alias("lid"), F.col("label").alias("l2"))
            cur = cur.join(lk, cur.label == lk.lid, "left").select(
                "id",
                "old",
                F.least(F.col("label"), F.coalesce(F.col("l2"), F.col("label"))).alias(
                    "label"
                ),
            ).localCheckpoint(eager=False)
        labels, got = MZ.materialize(
            cur, F.count(F.when(F.col("label") != F.col("old"), 1)).alias("n")
        )
        labels = labels.drop("old")
        if got["n"] == 0:
            break
    return labels


CC_LOCAL_MAX_EDGES = 20_000


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    local_max_edges: int = 0,
) -> DataFrame:
    """Undirected connected components → (id, component) where component
    is the min vertex id of the component.

    Small edge lists (≤ ``local_max_edges``, decided by one bounded
    limit-probe collect — the scc/vectorize small-input dispatch
    pattern) run driver-side union-find: the distributed min-label loop
    costs O(log diameter) rounds of shuffle+checkpoint jobs, which for
    a few thousand duplicate-pair edges is pure fixed overhead.  The
    contract is identical (component = min member id), so the dispatch
    is invisible.  Larger inputs symmetrize and delegate to the
    scalable propagation loop unchanged.

    OPT-IN (``local_max_edges=0`` disables): the limit probe EXECUTES
    the pairs plan — behind a ``distinct`` the limit cannot push down,
    so a caller whose pair-building subtree is expensive and lazy
    (consolidate_intersections' close-pair join) would pay for it twice
    when the threshold is exceeded.  Callers whose pairs are small or
    already materialized (the dedup family's verified duplicate pairs)
    pass a threshold explicitly."""
    probe = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .limit(local_max_edges + 1)
        .collect()
    ) if local_max_edges > 0 else None
    if probe is not None and len(probe) <= local_max_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in probe:
            a, b = row.a, row.b
            # the distributed path's a != b filter drops self-loops AND
            # any null endpoint (three-valued comparison) — match both
            if a is None or b is None or a == b:
                continue
            for v in (a, b):
                if v not in parent:
                    parent[v] = v
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for v in parent:
            r = find(v)
            m = comp_min.get(r)
            if m is None or v < m:
                comp_min[r] = v
        from pyspark.sql.types import StructField, StructType

        dt = pairs.schema[src].dataType
        schema = StructType(
            [StructField("id", dt), StructField("component", dt)]
        )
        ids = list(parent)
        pdf = pd.DataFrame(
            {"id": ids, "component": [comp_min[find(v)] for v in ids]}
        )
        # Arrow path (enabled in the session factory) — the pickled-rows
        # createDataFrame was the slow half of the dispatch
        return pairs.sparkSession.createDataFrame(pdf, schema)
    sym = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
    )
    labels = _min_label_prop(sym, max_iter=max_iter)
    return labels.select("id", F.col("label").alias("component"))


def _scc_local(arcs_pdf, verts) -> "pd.DataFrame":
    """Iterative Tarjan over a driver-side arc list — the small-graph
    fast path of strongly_connected_components.  Component id = min
    vertex id of the SCC (same contract as the distributed path)."""
    succ: dict = {}
    for a, b in zip(arcs_pdf["a"], arcs_pdf["b"]):
        succ.setdefault(int(a), []).append(int(b))
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp: dict = {}
    counter = 0
    for root in verts:
        if root in index:
            continue
        # explicit work stack: (vertex, iterator position)
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            children = succ.get(v, [])
            for i in range(pi, len(children)):
                w = children[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
            if work:  # propagate lowlink to the parent frame
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return pd.DataFrame(
        {"id": list(comp.keys()), "component": list(comp.values())}
    )


def strongly_connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_phases: int = 25,
    max_local_arcs: int = 1_000_000,
) -> DataFrame:
    """Strongly connected components → (id, component) where component
    is the min vertex id of the SCC (reference graph.py:987-1002 strong
    mode via nx.strongly_connected_components — here the Orzan-style
    forward/backward coloring, each phase two pointer-doubled label
    propagations, NOT a NetworkX port).

    Phase: (0) TRIM — vertices with no incoming or no outgoing arc are
    singleton SCCs; peel them iteratively (dissolves DAG fringes, which
    are the coloring step's pathological case: a pure directed chain
    retires only one vertex per coloring phase but trims from both ends);
    (1) color(v) = min vertex with a forward path to v;
    (2) on arcs REVERSED and restricted to equal colors, rev(v) = min
    same-color vertex v reaches forward; Orzan's theorem: v ∈ SCC of its
    color root c iff rev(v) == c (mutual paths never leave the color
    class, and c is the class minimum).  Found vertices retire; every
    color root retires per phase, so phases strictly shrink the graph —
    road networks (one giant SCC + oneway tails) settle in 1–3 phases,
    each O(log n) propagation rounds + O(peel depth) trim rounds."""
    verts, _ = MZ.checkpoint(
        pairs.select(F.col(src).alias("id"))
        .union(pairs.select(F.col(dst).alias("id")))
        .distinct()
    )
    arcs, got = MZ.checkpoint(pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
                              .filter(F.col("a") != F.col("b")))
    n_arcs = got["rows"]

    # Small-graph dispatch: the iterative coloring loop costs tens of
    # driver-scheduled jobs regardless of data volume — on a graph that
    # fits the driver comfortably, Tarjan runs in milliseconds.  Same
    # philosophy as broadcast-vs-shuffle join selection; the distributed
    # path is exercised by forcing max_local_arcs=0 in tests.
    if 0 < max_local_arcs and n_arcs <= max_local_arcs:
        spark = pairs.sparkSession
        vert_ids = sorted(int(r[0]) for r in verts.collect())
        out = _scc_local(arcs.toPandas(), vert_ids)
        if len(out) == 0:
            return spark.createDataFrame([], schema="id long, component long")
        return spark.createDataFrame(out)

    # Every loop exit reads the arc count observed on the checkpoint that
    # ends a trim batch or a retire: the vertices left always include
    # every arc endpoint, so once no arc is left they are all singletons.
    parts: list[DataFrame] = []
    phases = 0
    while True:
        # ---- trim: peel sources/sinks — they are singleton SCCs.  Each
        # checkpoint materializes 6 lazily-chained peel steps (lazy
        # localCheckpoints share RDD stages, as in _min_label_prop)
        while n_arcs:
            for _ in range(6):
                core = (
                    arcs.select(F.col("b").alias("id"))
                    .distinct()
                    .join(arcs.select(F.col("a").alias("id")).distinct(), "id", "left_semi")
                    .localCheckpoint(eager=False)
                )
                arcs = (
                    arcs.join(core.withColumnRenamed("id", "a"), "a", "left_semi")
                    .join(core.withColumnRenamed("id", "b"), "b", "left_semi")
                    .localCheckpoint(eager=False)
                )
            arcs, got = MZ.checkpoint(arcs)
            if got["rows"] == n_arcs:
                break
            n_arcs = got["rows"]
        # everything trimmed off the arc set is its own SCC
        arc_verts = (
            arcs.select(F.col("a").alias("id"))
            .union(arcs.select(F.col("b").alias("id")))
            .distinct()
        )
        singles = verts.join(arc_verts, "id", "left_anti").select(
            "id", F.col("id").alias("component")
        )
        # lazy: derives only from checkpointed arcs/verts, so it stays
        # valid and cheap after those are reassigned; the caller's final
        # union action materializes it once
        parts.append(singles.localCheckpoint(eager=False))
        if n_arcs == 0:
            break
        if phases == max_phases:
            raise RuntimeError(
                f"strongly_connected_components did not settle in {max_phases} phases"
            )
        phases += 1
        verts = verts.join(arc_verts, "id", "left_semi").localCheckpoint(eager=False)
        color = _min_label_prop(arcs)  # (id, label)
        ca = color.select(F.col("id").alias("a"), F.col("label").alias("__ca"))
        cb = color.select(F.col("id").alias("b"), F.col("label").alias("__cb"))
        restricted_rev = (
            arcs.join(ca, "a")
            .join(cb, "b")
            .filter(F.col("__ca") == F.col("__cb"))
            .select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        rev = _min_label_prop(restricted_rev).withColumnRenamed("label", "__rev")
        scc, _ = MZ.checkpoint(
            color.join(rev, "id", "left")
            .withColumn("__rev", F.coalesce(F.col("__rev"), F.col("id")))
            .filter(F.col("__rev") == F.col("label"))
            .select("id", F.col("label").alias("component"))
        )
        parts.append(scc)
        found = scc.select("id")  # retire them
        arcs, got = MZ.checkpoint(
            arcs.join(found.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(found.withColumnRenamed("id", "b"), "b", "left_anti")
        )
        n_arcs = got["rows"]
        verts = verts.join(found, "id", "left_anti").localCheckpoint(eager=False)
    return reduce(DataFrame.unionByName, parts)


def _chain_components_rank(pairs: DataFrame, n_pairs: int) -> DataFrame:
    """Components AND list ranks for FUNCTIONAL pair graphs — in-degree
    ≤ 1 and out-degree ≤ 1, i.e. disjoint chains and rings (chordify's
    consecutive-edge pairs (src, dst); chordify's parallel-edge guard
    enforces the precondition).  ``n_pairs`` is the row count of
    ``pairs``, which the caller already knows.  Returns (id, component,
    seq) where ``seq`` is the 0-based distance from the chain head — for
    rings, from the deterministic anchor (the ring's min vertex id), so
    seq is TOTAL.

    Rings get their seq from a SECOND Wyllie pass: the first pass labels
    each ring with its minimum vertex id (mp); the ring subset then
    re-runs the identical doubling with the ANCHOR's (the min-id
    vertex's) predecessor pointer cut, turning every ring into a rooted
    chain — seq = distance from the anchor.  The second pass touches
    ONLY ring vertices (zero cost when there are none).

    One pointer-doubling self-join per step on the unique PREDECESSOR
    pointer only, over the vertices that have one (heads have no row:
    a lookup that misses has reached a head), with accumulators riding
    the same join:

    * pp — jumps to pp[pp] (window doubles);
    * dp — Wyllie list ranking: dp += dp[pp] ⇒ at convergence dp =
      distance from head, which IS chordify's path order;
    * mp — min id over the ancestor window, 2^s + 1 vertices after s
      steps (rings: once the window wraps the cycle, mp = the ring
      minimum = a canonical label);
    * rooted — the lookup missed or rooted[pp]: after s steps exactly
      the vertices within 2^s − 1 of their head are rooted.

    Labels: chains use component = pp (the head); rings use component =
    mp.  The two never mix inside one component.

    Exits: (a) EVERY vertex rooted — pp is then at a head and mp/dp are
    telescoped over the whole path, so the state is provably final; (b)
    the budget of s steps with 2^s ≥ n_pairs + 1 (``bit_length``): a
    chain of m pairs has its last vertex at distance m, and a ring of r
    ≤ m vertices is wrapped once 2^s + 1 ≥ r (rings never root, so
    mixed inputs run to the budget).  Extra steps change nothing.

    Every step ends in ``materialize`` with the unrooted count as its
    observed probe: a bare localCheckpoint of the step, eager or lazy,
    would carry the join's product estimate (a 93 KB state left-joined
    to itself plans as 5.2 GB; see there), so the next step would shuffle
    both sides of a join over a state that fits a broadcast; with the
    measured size Spark's own broadcast threshold replicates the lookup
    side when it fits and shuffles it when it does not (lake scale).
    A step references the state twice (probe + lookup side), so without
    the checkpoint k steps would plan 2^k copies of the base state."""
    pred = pairs.select(F.col("dst").alias("id"), F.col("src").alias("pp"))

    def rank(vp, m):
        """(id, pp) of every vertex with a predecessor → (ranked state,
        last unrooted count), doubling to all-rooted or the budget for
        ``m`` pairs.  Heads have no row: a lookup that misses lands on a
        head, which is where a vertex becomes rooted."""
        state = vp.select(
            "id", "pp", F.least("id", "pp").alias("mp"),
            F.lit(1).cast("long").alias("dp"), F.lit(False).alias("rooted"),
        )
        for _ in range(m.bit_length()):
            lkp = state.select(
                F.col("id").alias("lid"), F.col("pp").alias("pp2"),
                F.col("mp").alias("mp2"), F.col("dp").alias("dp2"),
                F.col("rooted").alias("rt2"),
            )
            state, got = MZ.materialize(
                state.join(lkp, state.pp == lkp.lid, "left").select(
                    "id",
                    F.coalesce(F.col("pp2"), F.col("pp")).alias("pp"),
                    F.least(F.col("mp"), F.coalesce(F.col("mp2"), F.col("mp"))).alias("mp"),
                    (F.col("dp") + F.coalesce(F.col("dp2"), F.lit(0))).alias("dp"),
                    (F.col("lid").isNull() | F.col("rt2")).alias("rooted"),
                ),
                F.count(F.when(~F.col("rooted"), 1)).alias("n"),
            )
            if got["n"] == 0:
                break
        return state, got["n"]

    def ranked(state, heads):
        return state.filter(F.col("rooted")).select(
            "id", F.col("pp").alias("component"), F.col("dp").alias("seq")
        ).unionByName(heads.select("id", F.col("id").alias("component"),
                                   F.lit(0).cast("long").alias("seq")))

    state, unrooted = rank(pred, n_pairs)
    chains = ranked(
        state, pairs.select(F.col("src").alias("id")).join(pred, "id", "left_anti")
    )
    if unrooted == 0:
        return chains

    # ---- ring pass: cut the anchor's pred pointer, rank again ----------
    # every ring is then a chain headed at its min-id vertex, so pp = the
    # anchor = the first pass's mp label: component ids agree
    ring = state.filter(~F.col("rooted")).select("id", F.col("mp").alias("__ring"))
    state2, _ = rank(
        ring.join(pred, "id").filter(F.col("id") != F.col("__ring")), unrooted
    )
    return chains.unionByName(
        ranked(state2, ring.filter(F.col("id") == F.col("__ring")))
    )


def _grouped_map(df: DataFrame, key: str, fn, schema) -> DataFrame:
    """applyInPandas semantics at mapInPandas cost.

    ``groupBy(key).applyInPandas`` pays one Arrow/pandas round-trip PER
    GROUP (~5 ms measured) — 4,000 road chains cost 20 s for microseconds
    of real work; at lake scale (millions of chains) it is the dominant
    cost of chordify.  Here: repartition+sort by key, then ONE
    mapInPandas whose per-partition iterator splits groups with pandas
    groupby (µs each) and re-concatenates results per input batch.  A
    group can only straddle consecutive batches of the same partition
    (rows are sorted), so the trailing group of each batch is carried
    into the next."""
    part = df.repartition(F.col(key)).sortWithinPartitions(key)

    def run(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last = pdf[key].iloc[-1]
            mask = pdf[key] == last
            carry = pdf[mask]
            body = pdf[~mask]
            if len(body):
                outs = [fn(g) for _, g in body.groupby(key, sort=False)]
                yield pd.concat(outs, ignore_index=True)
        if carry is not None and len(carry):
            outs = [fn(g) for _, g in carry.groupby(key, sort=False)]
            yield pd.concat(outs, ignore_index=True)

    return part.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# chordify (degree-2 contraction)


def _edge_ids(edges: DataFrame) -> DataFrame:
    """Stable synthetic edge identity from (u, v, key)."""
    return edges.withColumn(
        "__eid", F.xxhash64(F.col("u"), F.col("v"), F.col("key"))
    )


def interstitial_nodes(edges: DataFrame, edge_attrs_differ: list[str]) -> DataFrame:
    """Nodes collapsible by simplification (OSMnx endpoint logic
    inverted — reference graph.py:922-962 via ox.simplify_graph):
    exactly 2 distinct neighbors, in-degree == out-degree ∈ {1, 2},
    no incident self-loop, and all incident edges agree on
    ``edge_attrs_differ``.  Returns (node, parallel): ``parallel`` marks
    a node with two incident edges of the same direction and neighbor
    (parallel multigraph edges, or repeated rows), the only way an
    interstitial node gives an edge two successors or two predecessors.

    One incident-row union + ONE groupBy computes every per-node
    statistic (degrees, per-direction neighbor min/max, loop flag, attr
    min/max) — the round-1 shape ran four separate aggregations and
    three joins (4 shuffles) for the same answer.  A node that passes
    has at most 2 arcs per direction, so each direction's min and max
    ARE its neighbor set: the distinct-neighbor count and the parallel
    flag need no collected array.  The attrs agree exactly when their
    min equals their max, so no distinct aggregate (and no second
    exchange) is needed either."""
    attr_cols = [c for c in edge_attrs_differ if c in edges.columns]
    attr_struct = (
        F.struct(*[F.col(c) for c in attr_cols]) if attr_cols else F.lit(1)
    )
    is_loop = F.col("u") == F.col("v")
    incident = edges.select(
        F.col("u").alias("node"),
        F.lit(1).alias("is_out"),
        F.col("v").alias("nbr"),
        is_loop.alias("loop"),
        attr_struct.alias("__attrs"),
    ).union(
        edges.select(
            F.col("v").alias("node"),
            F.lit(0).alias("is_out"),
            F.col("u").alias("nbr"),
            is_loop.alias("loop"),
            attr_struct.alias("__attrs"),
        )
    )
    per_dir = []
    for d, name in ((1, "out"), (0, "in")):
        arc = (F.col("is_out") == d) & ~F.col("loop")
        per_dir += [
            F.sum(F.when(arc, 1).otherwise(0)).alias(f"{name}_deg"),
            F.min(F.when(arc, F.col("nbr"))).alias(f"{name}_min"),
            F.max(F.when(arc, F.col("nbr"))).alias(f"{name}_max"),
        ]
    attrs = F.when(~F.col("loop"), F.col("__attrs"))
    stats = incident.groupBy("node").agg(
        *per_dir,
        F.max(F.when(F.col("loop"), 1).otherwise(0)).alias("has_loop"),
        F.min(attrs).alias("attrs_min"),
        F.max(attrs).alias("attrs_max"),
    )
    nbrs = F.array("out_min", "out_max", "in_min", "in_max")

    def doubled(name):
        return (F.col(f"{name}_deg") == 2) & (F.col(f"{name}_min") == F.col(f"{name}_max"))

    return stats.filter(
        (F.size(F.array_distinct(nbrs)) == 2)
        & (F.col("in_deg") == F.col("out_deg"))
        & F.col("in_deg").isin(1, 2)
        & (F.col("has_loop") == 0)
        & (F.col("attrs_min") == F.col("attrs_max"))
    ).select("node", (doubled("out") | doubled("in")).alias("parallel"))


def chordify(
    edges: DataFrame,
    edge_attrs_differ: list[str] = ("highway", "lanes", "maxspeed", "bridge",
                                   "tunnel", "layer_role", "protected_backbone"),
    track_merged: bool = True,
) -> DataFrame:
    """Collapse degree-2 paths into chord edges (reference
    graph.py:922-962).  Returns an edges DataFrame of the same schema
    (+ ``merged_osmids`` array when track_merged) where each maximal
    chain through interstitial nodes is one edge with aggregated attrs
    and concatenated geometry.

    Plan shape: one degree/compat agg → edge-pair self-join,
    materialized once with its count and parallel-edge flag observed →
    chain components + Wyllie list ranks over pairs (one materialized
    step per doubling, ⌈log₂(pairs + 1)⌉ at most; seq comes free for
    chains AND rings — a second anchor-cut ranking pass orders rings, so
    phase A has NO Python ordering; only the parallel-multigraph
    generic-CC fallback still orders per-chain in pandas) →
    groupBy(chain).agg(A1–A9 exprs) → union with untouched edges.  No
    driver-side iteration over rows."""
    e = _edge_ids(edges)
    inter = interstitial_nodes(edges, list(edge_attrs_differ))

    # consecutive-edge pairs through collapsible nodes (no U-turns); one
    # write materializes them and observes their count and whether any
    # node has parallel edges
    e1 = e.select(F.col("__eid").alias("eid1"), F.col("u").alias("u1"), F.col("v").alias("v1"))
    e2 = e.select(F.col("__eid").alias("eid2"), F.col("u").alias("u2"), F.col("v").alias("v2"))
    pairs, got = MZ.materialize(
        e1.join(inter, e1.v1 == inter.node)
        .join(e2, (F.col("v1") == F.col("u2")) & (F.col("v2") != F.col("u1")))
        .select(F.col("eid1").alias("src"), F.col("eid2").alias("dst"), "parallel"),
        F.max("parallel").alias("parallel"),
    )
    if got["rows"] == 0:
        # nothing to collapse: every edge is its own chord
        if track_merged:
            return edges.withColumn(
                "merged_osmids",
                F.array(F.col("osmid")) if "osmid" in edges.columns else F.array(),
            )
        return edges

    # _chain_components_rank requires the pair graph to be FUNCTIONAL
    # (in/out-degree ≤ 1).  True parallel multigraph edges (two a→w
    # edges plus two w→b edges with identical attrs) break it: node w
    # passes the interstitial filter yet gives each edge 2 successors,
    # and the list ranking would then emit duplicate (id, component)
    # rows — silent chain double-counting downstream.  Such inputs fall
    # back to the generic connected_components (one row per id
    # guaranteed); road networks virtually never trip this.
    if got["parallel"]:
        comp = connected_components(pairs).withColumn(
            "seq", F.lit(None).cast("long")
        )
        seq_total = False
    else:
        # (id=__eid, component, seq) — seq is the list rank for chains
        # AND rings (second Wyllie pass from the ring anchor), so the
        # per-chain Python ordering below only ever runs on the
        # generic-CC fallback
        comp = _chain_components_rank(pairs, got["rows"])
        seq_total = True
    chained = e.join(comp, e.__eid == comp.id, "left").drop("id")
    untouched = chained.filter(F.col("component").isNull()).drop(
        "component", "__eid", "seq"
    )
    chain_edges = chained.filter(F.col("component").isNotNull())

    # --- phase A: path order per chain --------------------------------------
    # chain components got seq free from the list ranking; only rings
    # (and the generic-CC fallback) need the per-chain Python ordering
    from pyspark.sql.types import LongType, StructField, StructType

    base_fields = chain_edges.select("component", "__eid").schema.fields
    order_schema = StructType(
        list(base_fields) + [StructField("seq", LongType(), True)]
    )

    def order_chain(pdf: pd.DataFrame) -> pd.DataFrame:
        by_u: dict = {}
        members = pdf.to_dict("records")
        for m in members:
            by_u.setdefault(m["u"], []).append(m)
        vs = {m["v"] for m in members}
        starts = [m for m in members if m["u"] not in vs]
        cur = min(starts, key=lambda m: m["__eid"]) if starts else min(
            members, key=lambda m: m["__eid"]
        )  # ring chains: deterministic arbitrary start (remove_rings=False)
        seq, out, seen = 0, [], set()
        while cur is not None and id(cur) not in seen:
            seen.add(id(cur))
            out.append((cur["component"], cur["__eid"], seq))
            seq += 1
            nxt = None
            for cand in by_u.get(cur["v"], []):
                if id(cand) not in seen and cand["v"] != cur["u"]:
                    nxt = cand
                    break
            if nxt is None:
                for cand in by_u.get(cur["v"], []):
                    if id(cand) not in seen:
                        nxt = cand
                        break
            cur = nxt
        # any unreached members (parallel chain direction grouped into the
        # same component via shared nodes) get stable order after
        remaining = [m for m in members if id(m) not in seen]
        for m in sorted(remaining, key=lambda m: m["__eid"]):
            out.append((m["component"], m["__eid"], seq))
            seq += 1
        return pd.DataFrame(out, columns=["component", "__eid", "seq"])

    if seq_total:
        # specialized path: seq is total (chains AND rings) — phase A is
        # fully relational, no Python ordering in the plan at all
        chain_full = chain_edges
    else:
        with_seq = chain_edges.filter(F.col("seq").isNotNull())
        no_seq = chain_edges.filter(F.col("seq").isNull()).drop("seq")
        ordered = _grouped_map(
            no_seq.select("component", "__eid", "u", "v"),
            "component", order_chain, order_schema,
        )
        chain_full = with_seq.unionByName(
            no_seq.join(ordered, ["component", "__eid"])
        )

    # --- phase B: aggregate each chain into one chord edge -----------------
    attr_cols = [
        c for c in edges.columns if c not in ("u", "v", "key", "geometry", "osmid")
    ]
    from osm_chordify_spark.functions.aggregates import KNOWN_CHORD_AGG_COLS

    aggs = [
        F.min_by("u", "seq").alias("u"),
        F.max_by("v", "seq").alias("v"),
        F.lit(0).alias("key"),
    ]
    aggs += chord_agg_exprs(attr_cols, order_col="seq")
    for c in attr_cols:
        if c not in KNOWN_CHORD_AGG_COLS:
            # unknown attrs: first value along the path
            aggs.append(F.min_by(c, "seq").alias(c))
    if "geometry" in edges.columns:
        aggs.append(
            F.sort_array(F.collect_list(F.struct("seq", "geometry"))).alias("__geoms")
        )
    if "osmid" in edges.columns:
        aggs.append(F.sort_array(F.collect_list("osmid")).alias("merged_osmids"))

    chords = chain_full.groupBy("component").agg(*aggs)

    if "geometry" in edges.columns:

        @F.pandas_udf("binary")
        def concat_geoms(geoms: pd.Series) -> pd.Series:
            out = []
            for lst in geoms:
                coords: list[np.ndarray] = []
                for item in sorted(lst, key=lambda s: s["seq"]):
                    for part in G.geometry_lines(bytes(item["geometry"])):
                        if coords and np.allclose(coords[-1][-1], part[0]):
                            coords.append(part[1:])
                        elif not coords:
                            coords.append(part)
                        else:
                            coords.append(part)
                merged = np.vstack(coords) if coords else np.empty((0, 2))
                out.append(G.wkb_linestring(merged))
            return pd.Series(out)

        chords = chords.withColumn("geometry", concat_geoms("__geoms")).drop("__geoms")

    chords = chords.drop("component")
    if "osmid" in edges.columns:
        chords = chords.withColumn("osmid", F.element_at("merged_osmids", 1))
        if track_merged:
            untouched = untouched.withColumn("merged_osmids", F.array("osmid"))
        else:
            chords = chords.drop("merged_osmids")
    sel_cols = untouched.columns
    return untouched.unionByName(chords.select(*sel_cols))


def compose_layers(
    layers: list[DataFrame], key_cols: tuple[str, ...] = ("u", "v", "key")
) -> DataFrame:
    """Multi-layer graph compose with later-layer-wins semantics
    (reference graph.py:706-739 ``nx.compose_all`` +
    ``adjust_and_add_graph``: when the same (u, v, key) edge exists in
    several layers, the LAST layer's attributes win).

    Spark-first: schemas aligned with unionByName(allowMissingColumns),
    the winner picked by ONE row_number window over the layer ordinal —
    no iterative joins, one shuffle on the edge key."""
    if not layers:
        raise ValueError("compose_layers needs at least one layer")
    tagged = [df.withColumn("__layer", F.lit(i)) for i, df in enumerate(layers)]
    allo = tagged[0]
    for t in tagged[1:]:
        allo = allo.unionByName(t, allowMissingColumns=True)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("__layer"))
    return (
        allo.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__layer")
    )


# ---------------------------------------------------------------------------
# topology validation


def edge_is_protected() -> F.Column:
    """Protected-edge predicate (reference graph.py:194-205)."""
    pb = F.coalesce(F.col("protected_backbone").cast("boolean"), F.lit(False))
    lr = F.coalesce(F.col("layer_role") == "backbone", F.lit(False))
    hw = F.coalesce(F.col("highway").isin(*PROTECTED_HIGHWAY_TYPES), F.lit(False))
    br = F.coalesce(is_truthy_osm_tag(F.col("bridge")), F.lit(False))
    tu = F.coalesce(is_truthy_osm_tag(F.col("tunnel")), F.lit(False))
    return pb | lr | hw | br | tu


def validate_topology(
    nodes: DataFrame, edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Remove unprotected self-loops, remove isolated nodes, suffix
    duplicate edge_ids (reference graph.py:346-474).  Raises ValueError
    if the graph empties (reference's empty-graph contract)."""
    for c in ("protected_backbone", "layer_role", "highway", "bridge", "tunnel"):
        if c not in edges.columns:
            edges = edges.withColumn(c, F.lit(None).cast("string"))
    cleaned = edges.filter((F.col("u") != F.col("v")) | edge_is_protected())
    endpoints = (
        cleaned.select(F.col("u").alias("node_id"))
        .union(cleaned.select(F.col("v").alias("node_id")))
        .distinct()
    )
    kept_nodes = nodes.join(endpoints, "node_id", "leftsemi")
    if kept_nodes.isEmpty():
        raise ValueError(
            "validate_topology: graph is empty after cleanup (graph consisted "
            "entirely of self-loops or isolated nodes)"
        )
    if "edge_id" in cleaned.columns:
        w = Window.partitionBy("edge_id").orderBy("u", "v", "key")
        rn = F.row_number().over(w)
        cleaned = cleaned.withColumn(
            "edge_id",
            F.when(rn == 1, F.col("edge_id")).otherwise(
                F.concat_ws("_", F.col("edge_id"), (rn - 1).cast("string"))
            ),
        )
    return kept_nodes, cleaned


def create_unique_edge_id(edges: DataFrame) -> DataFrame:
    """Deterministic 12-hex edge id: md5("{u}_{v}_{key}_{sorted osmids}")
    truncated (reference graph.py:312-343) — pure Spark SQL, verified
    byte-equal to the reference's hashlib.md5 in tests."""
    osmid_dt = (
        edges.schema["osmid"].dataType.simpleString() if "osmid" in edges.columns else ""
    )
    if osmid_dt.startswith("array"):
        osm_part = F.array_join(F.array_sort("osmid").cast("array<string>"), "_")
    elif "merged_osmids" in edges.columns:
        osm_part = F.array_join(
            F.array_sort("merged_osmids").cast("array<string>"), "_"
        )
    elif "osmid" in edges.columns:
        osm_part = F.col("osmid").cast("string")
    else:
        osm_part = F.lit("")
    payload = F.concat_ws(
        "_",
        F.col("u").cast("string"),
        F.col("v").cast("string"),
        F.col("key").cast("string"),
        osm_part,
    )
    return edges.withColumn("edge_id", F.substring(F.md5(payload), 1, 12))


def add_edge_speeds(edges: DataFrame, global_default_kph: float = 40.0) -> DataFrame:
    """Impute ``speed_kph`` from maxspeed → highway-type mean → global
    mean (reference graph.py:904 via ox.add_edge_speeds).

    Parsed speeds come from the maxspeed standardizer's mph output;
    the type-mean fallback is a broadcast groupBy-avg join."""
    from osm_chordify_spark.functions.tags import standardize_maxspeed

    if "maxspeed" in edges.columns:
        mph = F.regexp_extract(
            standardize_maxspeed(F.col("maxspeed")), r"^(\d+)", 1
        ).try_cast("double")
    else:
        mph = F.lit(None).cast("double")
    parsed = edges.withColumn("__kph", mph * F.lit(1.60934))
    global_mean_row = parsed.agg(F.avg("__kph")).collect()[0][0]
    global_mean = (
        float(global_mean_row) if global_mean_row is not None else global_default_kph
    )
    if "highway" not in edges.columns:
        return parsed.withColumn(
            "speed_kph", F.coalesce(F.col("__kph"), F.lit(global_mean))
        ).drop("__kph")
    type_means = parsed.groupBy("highway").agg(F.avg("__kph").alias("__type_kph"))
    return (
        parsed.join(F.broadcast(type_means), "highway", "left")
        .withColumn(
            "speed_kph",
            F.coalesce(F.col("__kph"), F.col("__type_kph"), F.lit(global_mean)),
        )
        .drop("__kph", "__type_kph")
    )


def filter_boundaries_by_density(
    boundaries: DataFrame,
    population_col: str = "population",
    area_m2_col: str = "area_m2",
    min_density_pctile: float = 50.0,
) -> DataFrame:
    """Population-density percentile filter (reference
    utils/data_collection.py:330-443): density = pop / (area/1e6) km²,
    pandas ``rank(pct=True) * 100`` rounded to 1 dp, keep rows ≥
    min_density_pctile.

    pandas pct-rank is average-rank / n (min row gets 100/n, ties share
    their group's mean rank) — NOT Spark percent_rank's (rank-1)/(n-1),
    which shifts the whole distribution and keeps a different boundary
    set.  Boundary tables are zone-scale, so the single-partition global
    window is fine."""
    dens = F.col(population_col) / (F.col(area_m2_col) / F.lit(1e6))
    w = Window.orderBy(F.col("__density"))
    n = F.count(F.lit(1)).over(Window.partitionBy())
    tie = F.count(F.lit(1)).over(Window.partitionBy(F.col("__density")))
    avg_rank = F.rank().over(w) + (tie - F.lit(1)) / F.lit(2.0)
    return (
        boundaries.withColumn("__density", dens)
        .withColumn("density_per_km2", F.col("__density"))
        .withColumn("density_pctile", F.round(avg_rank / n * 100, 1))
        .filter(F.col("density_pctile") >= min_density_pctile)
        .drop("__density")
    )


# ---------------------------------------------------------------------------
# node consolidation + components retention


def consolidate_nodes(
    nodes: DataFrame, edges: DataFrame, tolerance: float
) -> tuple[DataFrame, DataFrame]:
    """Merge nodes within ``tolerance`` into cluster centroids and remap
    edge endpoints (reference graph.py:908-915,
    ox.consolidate_intersections).  Close pairs come from a 3×3
    neighbor-cell self-join on a grid of cell size ≥ tolerance — the
    cell-index replacement for the reference's STRtree radius query
    (graph.py:432-458)."""
    cell = (F.floor(F.col("x") / F.lit(tolerance)).cast("long") * F.lit(1 << 22)
            + F.floor(F.col("y") / F.lit(tolerance)).cast("long"))
    pts = nodes.select("node_id", "x", "y").withColumn("cell", cell)
    # 3x3 neighborhood via offset explode
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    off = pts.sparkSession.createDataFrame(offsets, "dx int, dy int")
    probe = pts.crossJoin(F.broadcast(off)).withColumn(
        "cell",
        (F.floor(F.col("x") / F.lit(tolerance)).cast("long") + F.col("dx"))
        * F.lit(1 << 22)
        + (F.floor(F.col("y") / F.lit(tolerance)).cast("long") + F.col("dy")),
    ).select(F.col("node_id").alias("nid2"), F.col("x").alias("x2"),
             F.col("y").alias("y2"), "cell")
    close = (
        pts.join(probe, "cell")
        .filter(F.col("node_id") < F.col("nid2"))
        .filter(
            (F.col("x") - F.col("x2")) * (F.col("x") - F.col("x2"))
            + (F.col("y") - F.col("y2")) * (F.col("y") - F.col("y2"))
            <= F.lit(float(tolerance) ** 2)
        )
        .select(F.col("node_id").alias("src"), F.col("nid2").alias("dst"))
        .distinct()
    )
    comp = connected_components(close)
    mapped = nodes.join(comp, nodes.node_id == comp.id, "left").select(
        "node_id", "x", "y", F.coalesce("component", "node_id").alias("cluster")
    )
    new_nodes = mapped.groupBy(F.col("cluster").alias("node_id")).agg(
        F.avg("x").alias("x"), F.avg("y").alias("y")
    )
    m_u = mapped.select(F.col("node_id").alias("u"), F.col("cluster").alias("new_u"))
    m_v = mapped.select(F.col("node_id").alias("v"), F.col("cluster").alias("new_v"))
    new_edges = (
        edges.join(m_u, "u", "left")
        .join(m_v, "v", "left")
        .withColumn("u", F.coalesce("new_u", "u"))
        .withColumn("v", F.coalesce("new_v", "v"))
        .drop("new_u", "new_v")
    )
    return new_nodes, new_edges


def largest_component(
    nodes: DataFrame, edges: DataFrame, mode: str = "weak"
) -> tuple[DataFrame, DataFrame]:
    """Keep only the largest connected component — ``mode`` picks weak
    or strong connectivity (reference graph.py:987-1002: the
    retain_component config flag; strong matters for directed road
    networks with oneways)."""
    if mode not in ("weak", "strong"):
        raise ValueError(f"mode must be 'weak' or 'strong', got {mode!r}")
    cc = connected_components if mode == "weak" else strongly_connected_components
    comp = cc(edges.select(F.col("u").alias("src"), F.col("v").alias("dst")))
    sizes = comp.groupBy("component").count()
    top = sizes.orderBy(F.desc("count"), F.asc("component")).limit(1)
    keep = comp.join(F.broadcast(top.select("component")), "component").select(
        F.col("id").alias("node_id")
    )
    kept_nodes = nodes.join(keep, "node_id", "leftsemi")
    # subgraph semantics: BOTH endpoints must be in the component (for
    # weak CC the u-side test alone would suffice; for strong it would
    # leak edges exiting the SCC)
    kept_edges = (
        edges.join(keep.withColumnRenamed("node_id", "u"), "u", "leftsemi")
        .join(keep.withColumnRenamed("node_id", "v"), "v", "leftsemi")
    )
    return kept_nodes, kept_edges


# ---------------------------------------------------------------------------
# ferry processing (G7)

FERRY_ATTRS = {
    "reversed": "False",
    "maxspeed": "10 mph",
    "highway": "unclassified",
    "oneway": "no",
    "lanes": "2",
}  # reference graph.py:150-158 constants


def process_ferry_edges(
    nodes: DataFrame, edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Make ferry edges car-network-compatible (reference
    graph.py:112-166 ``process_ferry_edges``): DEFAULT-ALLOW access —
    an edge is dropped only when ``motorcar == 'no'`` or
    ``motor_vehicle == 'no'`` explicitly; surviving edges get the
    constant ferry attributes (maxspeed '10 mph', highway
    'unclassified', oneway 'no', lanes '2', hgv False, mdv True,
    reversed False), and the node table is rebuilt to only the nodes
    the kept edges use (the reference's used-node subgraph rebuild).

    Spark-first: the access mask is a codegen filter, the constant
    attrs are literal projections, and the node rebuild is one
    left-semi join — no shuffles beyond it."""
    kept = edges
    for col in ("motorcar", "motor_vehicle"):
        if col in kept.columns:
            # NULL-safe: only an explicit 'no' denies (reference's
            # ~(col == 'no') keeps NaN rows)
            kept = kept.filter(
                ~F.coalesce(F.col(col).cast("string") == "no", F.lit(False))
            )
    for name, val in FERRY_ATTRS.items():
        kept = kept.withColumn(name, F.lit(val))
    kept = kept.withColumn("hgv", F.lit(False)).withColumn("mdv", F.lit(True))
    endpoints = (
        kept.select(F.col("u").alias("node_id"))
        .union(kept.select(F.col("v").alias("node_id")))
        .distinct()
    )
    used_nodes = nodes.join(endpoints, "node_id", "leftsemi")
    return used_nodes, kept


def simplify_edge_geometries(
    edges: DataFrame,
    tolerance: float,
    geometry_col: str = "geometry",
) -> DataFrame:
    """Douglas–Peucker simplification of every edge geometry (WKB line
    or multiline) — shrinks vertex counts (and downstream kernel cost)
    while keeping every surviving vertex an ORIGINAL vertex, so edge
    endpoints and topology are untouched by construction.

    Arrow-batched map-side kernel (geom.simplify_polyline per line);
    no shuffle, no schema change.  The within-tolerance guarantee
    (max deviation ≤ tolerance) is pinned in pytest."""
    if tolerance < 0:
        raise ValueError("tolerance must be >= 0")

    schema = edges.schema

    def run(batches):
        for pdf in batches:
            out = []
            for buf in pdf[geometry_col]:
                if buf is None:
                    out.append(None)
                    continue
                b = bytes(buf)
                lines = G.geometry_lines(b)
                simp = [G.simplify_polyline(ln, tolerance) for ln in lines]
                # header peek, not a second full parse: 5 = MultiLineString
                if G.wkb_geom_type(b) == 5:
                    out.append(G.wkb_multilinestring(simp))
                else:
                    out.append(G.wkb_linestring(simp[0]))
            pdf = pdf.copy()
            pdf[geometry_col] = out
            yield pdf

    return edges.mapInPandas(run, schema=schema)
