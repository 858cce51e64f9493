"""Diagnostics / data-quality operators.

Single-pass aggregation summaries mirroring the reference's graph and
PBF diagnostics (reference: src/osm_chordify/osm/graph.py:477-560
edge-quality + validation summaries; osm/diagnostics.py:96-175
duplicate-id and invalid-coordinate checks; main.py:431-521 PBF link
stats/histogram; osm/analyze.py:116-226 tag-frequency stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_chordify_spark.functions import materialize as MZ


def edge_quality_summary(
    edges: DataFrame,
    length_col: str = "length",
    speed_col: str | None = "speed_kph",
    oneway_col: str | None = "oneway",
    short_m: float = 15.0,
    long_m: float = 10_000.0,
) -> DataFrame:
    """One-row quality summary (reference graph.py:477-499): missing /
    nonpositive / short / long lengths, speed min/max, invalid oneway."""
    ln = F.col(length_col)
    aggs = [
        F.count("*").alias("n_edges"),
        F.sum(F.when(ln.isNull(), 1).otherwise(0)).alias("missing_length"),
        F.sum(F.when(ln <= 0, 1).otherwise(0)).alias("nonpositive_length"),
        F.sum(F.when(ln < short_m, 1).otherwise(0)).alias("short_links"),
        F.sum(F.when(ln > long_m, 1).otherwise(0)).alias("long_links"),
    ]
    if speed_col and speed_col in edges.columns:
        aggs += [
            F.min(speed_col).alias("speed_min"),
            F.max(speed_col).alias("speed_max"),
        ]
    if oneway_col and oneway_col in edges.columns:
        aggs.append(
            F.sum(
                F.when(~F.col(oneway_col).isin("yes", "no", "-1"), 1).otherwise(0)
            ).alias("invalid_oneway")
        )
    return edges.agg(*aggs)


def invalid_coordinates(nodes: DataFrame, x: str = "x", y: str = "y") -> DataFrame:
    """Nodes with NaN/inf/out-of-range coordinates (reference
    osm/diagnostics.py:144-175): lon ∈ [-180, 180], lat ∈ [-90, 90]."""
    xc, yc = F.col(x), F.col(y)
    bad = (
        xc.isNull() | yc.isNull() | F.isnan(xc) | F.isnan(yc)
        | (xc < -180) | (xc > 180) | (yc < -90) | (yc > 90)
    )
    return nodes.filter(bad)


def duplicate_coords_at_precision(
    nodes: DataFrame, x: str = "x", y: str = "y", precision: int = 7
) -> DataFrame:
    """Coordinate groups identical after rounding to ``precision`` dp
    with more than one node (reference graph.py:502-513)."""
    rx = F.round(F.col(x), precision).alias("rx")
    ry = F.round(F.col(y), precision).alias("ry")
    return (
        nodes.groupBy(rx, ry)
        .agg(F.count("*").alias("n"), F.sort_array(F.collect_list("node_id")).alias("node_ids"))
        .filter(F.col("n") > 1)
    )


def close_node_pairs(
    nodes: DataFrame, threshold: float, x: str = "x", y: str = "y"
) -> DataFrame:
    """Node pairs within ``threshold`` distance via 3×3 neighbor-cell
    self-join (reference graph.py:432-458 STRtree radius query,
    R-tree-free)."""
    cell_x = F.floor(F.col(x) / F.lit(threshold)).cast("long")
    cell_y = F.floor(F.col(y) / F.lit(threshold)).cast("long")
    base = nodes.select("node_id", x, y).withColumn(
        "cell", cell_x * F.lit(1 << 22) + cell_y
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    off = nodes.sparkSession.createDataFrame(offsets, "dx int, dy int")
    probe = (
        nodes.select(
            F.col("node_id").alias("nid2"), F.col(x).alias("x2"), F.col(y).alias("y2")
        )
        .crossJoin(F.broadcast(off))
        .withColumn(
            "cell",
            (F.floor(F.col("x2") / F.lit(threshold)).cast("long") + F.col("dx"))
            * F.lit(1 << 22)
            + (F.floor(F.col("y2") / F.lit(threshold)).cast("long") + F.col("dy")),
        )
        .drop("dx", "dy")
    )
    d2 = (F.col(x) - F.col("x2")) * (F.col(x) - F.col("x2")) + (
        F.col(y) - F.col("y2")
    ) * (F.col(y) - F.col("y2"))
    return (
        base.join(probe, "cell")
        .filter(F.col("node_id") < F.col("nid2"))
        .withColumn("dist", F.sqrt(d2))
        .filter(F.col("dist") < F.lit(threshold))
        .select("node_id", "nid2", "dist")
        .distinct()
    )


def link_length_histogram(
    edges: DataFrame, length_col: str = "length", bucket_m: float = 25.0,
    max_m: float = 500.0,
) -> DataFrame:
    """Bucketed length histogram ≤ max_m (reference main.py:497-517)."""
    ln = F.col(length_col)
    bucket = (F.floor(ln / F.lit(bucket_m)) * F.lit(bucket_m)).alias("bucket_start")
    return (
        edges.filter(ln.isNotNull() & (ln <= max_m))
        .groupBy(bucket)
        .agg(F.count("*").alias("n"))
    )


def token_frequency(
    df: DataFrame, text_col: str = "text", group_col: str | None = None,
    top_n: int = 5,
) -> DataFrame:
    """Top-N token frequencies, optionally per group (reference
    osm/analyze.py:116-226 Counter.most_common + graph.py:535-539
    top-8 highway histogram)."""
    sel = [F.col(group_col)] if group_col else []
    tokens = df.select(
        *sel, F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token")
    )
    counts = tokens.groupBy(*([group_col] if group_col else []), "token").count()
    w = Window.partitionBy(*([group_col] if group_col else [])).orderBy(
        F.desc("count"), F.asc("token")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .drop("rk")
    )


PROTECTED_HIGHWAY_TYPES = (
    "motorway", "motorway_link", "trunk", "trunk_link", "primary",
    "primary_link",
)


def _truthy_tag(col: F.Column) -> F.Column:
    """OSM-style truthy (reference graph.py:185-191): yes/true/1,
    case/whitespace-insensitive; NULL → false; booleans cast through
    their string form ('true')."""
    return F.lower(F.trim(col.cast("string"))).isin("yes", "true", "1")


def protected_edge_expr(edges: DataFrame) -> F.Column:
    """Column form of the reference's conservative-cleanup protection
    test (reference graph.py:194-204): protected_backbone truthy OR
    layer_role == 'backbone' OR any highway value in the protected set
    OR bridge/tunnel truthy.  Columns absent from the frame simply
    don't contribute."""
    from pyspark.sql.types import ArrayType

    parts = []
    cols = dict(zip(edges.columns, [f.dataType for f in edges.schema.fields]))
    if "protected_backbone" in cols:
        parts.append(_truthy_tag(F.col("protected_backbone")))
    if "layer_role" in cols:
        parts.append(F.col("layer_role") == "backbone")
    if "highway" in cols:
        hw = F.col("highway")
        if isinstance(cols["highway"], ArrayType):
            parts.append(
                F.arrays_overlap(
                    hw.cast("array<string>"),
                    F.array(*[F.lit(h) for h in PROTECTED_HIGHWAY_TYPES]),
                )
            )
        else:
            parts.append(hw.cast("string").isin(*PROTECTED_HIGHWAY_TYPES))
    if "bridge" in cols:
        parts.append(_truthy_tag(F.col("bridge")))
    if "tunnel" in cols:
        parts.append(_truthy_tag(F.col("tunnel")))
    if not parts:
        return F.lit(False)
    out = parts[0]
    for p in parts[1:]:
        out = out | p
    return F.coalesce(out, F.lit(False))


def highway_type_counts(edges: DataFrame, top: int = 8) -> DataFrame:
    """Top-``top`` highway histogram (reference graph.py:535-539:
    explode + value_counts().head(8)) — list-valued highway columns
    explode per element; ties break on the value string so the head-8
    cut is deterministic."""
    from pyspark.sql.types import ArrayType

    hw_type = dict(zip(edges.columns, [f.dataType for f in edges.schema.fields]))
    hw = F.col("highway")
    if isinstance(hw_type.get("highway"), ArrayType):
        base = edges.select(F.explode(hw).alias("highway"))
    else:
        base = edges.select(hw.cast("string").alias("highway"))
    return (
        base.groupBy("highway")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "highway")
        .limit(top)
    )


def summarize_graph_validation(
    nodes: DataFrame,
    edges: DataFrame,
    close_threshold: float = 0.5,
    u: str = "u",
    v: str = "v",
    precision: int = 7,
) -> dict:
    """Graph-level validation summary (reference graph.py:532-560
    summarize_graph_validation, merged with summarize_edge_quality —
    A13 in full): counts, self-loops split protected/unprotected,
    isolates, weak connectivity, duplicate-coordinate groups,
    close-node pairs with top-5 examples, top-8 highway histogram, and
    the one-row edge-quality bundle.  Driver-side dict by contract
    (it's a SUMMARY — every number is one aggregate over distributed
    frames; only ≤5-row example lists collect)."""
    from osm_chordify_spark.operators import graph as GR

    loop = F.col(u) == F.col(v)
    prot = protected_edge_expr(edges)
    ea = edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.when(loop, 1).otherwise(0)).alias("self_loops"),
        F.sum(F.when(loop & prot, 1).otherwise(0)).alias("prot_loops"),
        F.sum(F.when(loop & ~prot, 1).otherwise(0)).alias("unprot_loops"),
        F.count(F.when(~loop, 1)).alias("nonloop"),
    ).first()
    n_nodes = nodes.count()
    used, got = MZ.checkpoint(
        edges.select(F.col(u).alias("node_id"))
        .unionByName(edges.select(F.col(v).alias("node_id")))
        .distinct()
    )
    isolates = nodes.join(used, "node_id", "left_anti").count()
    if ea["nonloop"] == 0:
        ncomp = got["rows"]  # every used node is a self-loop island
    else:
        comp, _ = MZ.checkpoint(GR.connected_components(
            edges.filter(~loop).select(F.col(u).alias("src"), F.col(v).alias("dst"))
        ))
        in_nonloop = comp.select(F.col("id").alias("node_id")).distinct()
        loop_only = used.join(in_nonloop, "node_id", "left_anti").count()
        ncomp = comp.select("component").distinct().count() + loop_only
    weakly_connected = bool(n_nodes > 0 and isolates == 0 and ncomp == 1)

    dup, got = MZ.checkpoint(duplicate_coords_at_precision(nodes, precision=precision))
    dup_n = got["rows"]
    dup_ex = [
        (r["rx"], r["ry"], list(r["node_ids"]))
        for r in dup.orderBy("rx", "ry").limit(5).collect()
    ]
    close, got = MZ.checkpoint(close_node_pairs(nodes, close_threshold))
    close_n = got["rows"]
    close_ex = [
        (r["node_id"], r["nid2"], r["dist"])
        for r in close.orderBy("node_id", "nid2").limit(5).collect()
    ]
    hw = {
        r["highway"]: r["n"] for r in highway_type_counts(edges).collect()
    }
    quality = edge_quality_summary(edges).first().asDict()
    quality.pop("n_edges", None)
    return {
        "nodes": int(n_nodes),
        "edges": int(ea["n_edges"]),
        "self_loops": int(ea["self_loops"]),
        "protected_self_loops": int(ea["prot_loops"]),
        "unprotected_self_loops": int(ea["unprot_loops"]),
        "isolated_nodes": int(isolates),
        "weakly_connected": weakly_connected,
        "duplicate_coordinate_groups": int(dup_n),
        "close_node_pairs": int(close_n),
        "duplicate_examples": dup_ex,
        "close_examples": close_ex,
        "highway_type_counts": hw,
        **quality,
    }
