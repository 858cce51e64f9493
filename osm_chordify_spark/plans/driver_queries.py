"""Driver-contract queries + DuckDB oracle SQL.

Every entry here is a (Spark callable, oracle SQL) pair over the
read-only testdata tables.  Column names are aliased identically on
both sides (the driver sorts columns by name before value-hashing).

Float-parity rules used throughout:
* sums go through exact DECIMAL casts, then round(2/4), then DOUBLE —
  summation order can't perturb the hash;
* literals are written in exponent notation (`1e2`) or cast, never bare
  decimals (Spark parses `1.5` as DECIMAL, DuckDB as DOUBLE);
* ranking windows always carry a unique tie-break key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_chordify_spark.functions.cells import cell_sql
from osm_chordify_spark.operators import pages as P

QUERIES = {}
ORACLE = {}


def register(name, oracle=None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # NOTE: no blanket fan-out here.  A loader-level repartition was
    # measured in round 6: it wins big for per-row-heavy consumers but
    # taxes cheap-aggregate and iterative queries (each extra exchange
    # re-executes per round), netting negative for half the bench.  The
    # fan-out lives INSIDE the operators whose kernels need it
    # (functions.skew.fan_out), where the consumer shape is known.
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# spatial: the flagship pipeline (SURVEY §2.9/§7 — tiling + PIP join)

_PAGES_COORDS_CTE = f"""
with coords as (
  select 'https://example.org/page/' || doc_id as url,
         doc_id, {P.LON_SQL} as lon, {P.LAT_SQL} as lat
  from documents
)
"""


@register(
    "pages_zone_pip",
    oracle=_PAGES_COORDS_CTE
    + f"""
select url, {P.ZONE_SQL} as zone_id from coords
where lon >= -130 and lon < -10 and lat >= 20 and lat < 80
""",
)
def pages_zone_pip(spark, sf_dir):
    """Point-in-polygon zone assignment via broadcast cell index + exact
    winding-number refinement (reference intersect.py:735-741 candidate
    join + :406-437 exact test, re-expressed Spark-first)."""
    return P.pages_pipeline(spark, sf_dir).select("url", "zone_id")


@register(
    "pages_cell_assign",
    oracle=_PAGES_COORDS_CTE
    + f"""
select url,
       {cell_sql('lon', 'lat', 7)} as cell_r7,
       {cell_sql('lon', 'lat', 8)} as cell_r8,
       {cell_sql('lon', 'lat', 9)} as cell_r9,
       {cell_sql('lon', 'lat', 10)} as cell_r10
from coords
""",
)
def pages_cell_assign(spark, sf_dir):
    """Hierarchical tile assignment res 7-10, pure column arithmetic
    (whole-stage codegen; the from-scratch H3/S2-style index)."""
    pages = P.with_cells(P.with_geo_anchors(P.synthesize_pages(spark, sf_dir)))
    return pages.select("url", "cell_r7", "cell_r8", "cell_r9", "cell_r10")


@register(
    "pages_zone_counts",
    oracle=_PAGES_COORDS_CTE
    + f"""
select {P.ZONE_SQL} as zone_id,
       count(*) as page_count,
       count(distinct {cell_sql('lon', 'lat', 10)}) as cell10_count
from coords
where lon >= -130 and lon < -10 and lat >= 20 and lat < 80
group by 1
""",
)
def pages_zone_counts(spark, sf_dir):
    """Per-zone rollup over the PIP output (agg layer on the spatial join)."""
    out = P.pages_pipeline(spark, sf_dir)
    return out.groupBy("zone_id").agg(
        F.count("*").alias("page_count"),
        F.countDistinct("cell_r10").alias("cell10_count"),
    )


@register(
    "pages_text_extraction_parity",
    oracle="select count(*) as n_pages, 0 as n_mismatch from documents",
)
def pages_text_extraction_parity(spark, sf_dir):
    """Byte-identical text extraction invariant (north_star parity gate):
    every page's Arrow-UDF-extracted text equals the source text."""
    pages = P.with_extracted_text(P.synthesize_pages(spark, sf_dir))
    return pages.agg(
        F.count("*").alias("n_pages"),
        F.sum(F.when(F.col("extracted_text") != F.col("text"), 1).otherwise(0))
        .cast("int")
        .alias("n_mismatch"),
    )


# ---------------------------------------------------------------------------
# relational operator layer (SURVEY §2.4 aggregations, §2.5 windows,
# §2.3 joins) — validated against DuckDB on the TPC-H-ish tables


@register(
    "tpch_q1_pricing_summary",
    oracle="""
select l_returnflag, l_linestatus,
       cast(round(sum(cast(l_quantity as decimal(18,2))), 2) as double) as sum_qty,
       cast(round(sum(cast(l_extendedprice as decimal(18,2))), 2) as double) as sum_base_price,
       cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))), 2) as double) as sum_disc_price,
       cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2))) * (1 + cast(l_tax as decimal(18,2)))), 2) as double) as sum_charge,
       count(*) as count_order
from lineitem
where l_shipdate <= cast('1998-09-02' as timestamp)
group by l_returnflag, l_linestatus
""",
)
def tpch_q1(spark, sf_dir):
    """Pricing summary — the canonical partial-agg (map-side combine)
    groupBy; mirrors the reference's edge-quality summary pattern
    (osm/graph.py:477-499: one agg pass, many conditional sums)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1) - dec("l_discount"))
                    * (F.lit(1) + dec("l_tax"))
                ),
                2,
            )
            .cast("double")
            .alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "top3_orders_per_customer",
    oracle="""
select o_custkey, o_orderkey, o_totalprice, rn from (
  select o_custkey, o_orderkey, o_totalprice,
         row_number() over (partition by o_custkey
                            order by o_totalprice desc, o_orderkey) as rn
  from orders
) where rn <= 3
""",
)
def top3_orders_per_customer(spark, sf_dir):
    """Window top-k per group (SURVEY W3 — the kNN top-k pattern)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "acctbal_percent_rank",
    oracle="""
select c_custkey,
       cast(round(cast(pr as decimal(18,6)), 6) as double) as density_rank
from (
  select c_custkey,
         percent_rank() over (order by c_acctbal, c_custkey) * 100 as pr
  from customer
) where pr >= 80
""",
)
def acctbal_percent_rank(spark, sf_dir):
    """Percentile-rank filter — the density-percentile filter regrafted
    (reference utils/data_collection.py:330-443: density percent_rank
    >= min_density)."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal"), F.col("c_custkey"))
    return (
        cust.select(
            "c_custkey", (F.percent_rank().over(w) * 100).alias("pr")
        )
        .filter(F.col("pr") >= 80)
        .select(
            "c_custkey",
            F.round(F.col("pr").cast("decimal(18,6)"), 6)
            .cast("double")
            .alias("density_rank"),
        )
    )


@register(
    "orders_customer_match_rate",
    oracle="""
select count(distinct o.o_custkey) as matched_keys,
       (select count(distinct c_custkey) from customer) as total_keys,
       count(*) as matched_rows
from orders o inner join customer c on o.o_custkey = c.c_custkey
""",
)
def orders_customer_match_rate(spark, sf_dir):
    """Equi-join + match-rate telemetry (reference utils/network.py:10-59
    map_network_to_intersection + main.py:155-162 match-rate logs)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
    )
    total = cust.select(F.countDistinct("c_custkey").alias("total_keys"))
    return joined.agg(
        F.countDistinct("o_custkey").alias("matched_keys"),
        F.count("*").alias("matched_rows"),
    ).crossJoin(total).select("matched_keys", "total_keys", "matched_rows")


@register(
    "event_type_top8",
    oracle="""
select event_type, n from (
  select event_type, count(*) as n,
         row_number() over (order by count(*) desc, event_type) as rk
  from events group by event_type
) where rk <= 8
""",
)
def event_type_top8(spark, sf_dir):
    """Top-N histogram (reference graph.py:535-539 — top-8 highway
    histogram via explode + value_counts)."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy("event_type").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        counts.select("event_type", "n", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 8)
        .select("event_type", "n")
    )


# ---------------------------------------------------------------------------
# zone-intersection operators (SURVEY §2.3 J1/J2, §2.8 X1/X2)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from osm_chordify_spark import geom as _G  # noqa: E402
from osm_chordify_spark.operators import intersect as _I  # noqa: E402

_RECT_ZONES = [
    {"zone_id": "R0", "geometry": [np.array([[0.0, 0.0], [5.0, 0.0], [5.0, 10.0], [0.0, 10.0]])]},
    {"zone_id": "R1", "geometry": [np.array([[5.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.0, 10.0]])]},
]


def _part_edges(spark, sf_dir):
    """Deterministic horizontal 4-unit segments derived from part."""
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("osm_id"),
        (F.expr("((p_partkey * 7) % 60) / 1e1")).alias("xs"),
        (F.expr("((p_partkey * 13) % 95) / 1e1 + 25e-2")).alias("y"),
    )

    @F.pandas_udf("binary")
    def mk_line(xs: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _G.wkb_linestring([[x, yy], [x + 4.0, yy]])
                for x, yy in zip(xs, y)
            ]
        )

    return part.select(
        "osm_id",
        F.lit(4.0).alias("edge_length"),
        mk_line("xs", "y").alias("geometry"),
    )


@register(
    "zone_intersect_lines",
    oracle="""
with edges as (
  select p_partkey as osm_id,
         ((p_partkey * 7) % 60) / 1e1 as xs,
         ((p_partkey * 7) % 60) / 1e1 + 4e0 as xe
  from part
), pairs as (
  select osm_id, 'R0' as zone_zone_id,
         greatest(0e0, least(xe, 5e0) - greatest(xs, 0e0)) as ov from edges
  union all
  select osm_id, 'R1' as zone_zone_id,
         greatest(0e0, least(xe, 1e1) - greatest(xs, 5e0)) as ov from edges
)
select osm_id as edge_osm_id, zone_zone_id,
       cast(round(ov, 2) as double) as zone_link_length_m,
       cast(4e0 as double) as edge_link_length_m,
       cast(round(round(ov, 2) / 4e0, 4) as double) as zone_edge_proportion
from pairs where ov > 0
""",
)
def zone_intersect_lines(spark, sf_dir):
    """intersect_road_network_with_zones semantics: exact line∩polygon
    proportional length metrics via the broadcast cell index + clip
    kernel (reference intersect.py:586-884)."""
    edges = _part_edges(spark, sf_dir)
    out = _I.intersect_lines_with_zones(
        edges, _I.Zones.from_records(_RECT_ZONES), keep_geometry=False
    )
    return out.select(
        "edge_osm_id",
        "zone_zone_id",
        "zone_link_length_m",
        "edge_link_length_m",
        "zone_edge_proportion",
    )


@register(
    "zone_intersect_lines_dist",
    oracle="""
with edges as (
  select p_partkey as osm_id,
         ((p_partkey * 7) % 60) / 1e1 as xs,
         ((p_partkey * 7) % 60) / 1e1 + 4e0 as xe,
         ((p_partkey * 13) % 95) / 1e1 + 25e-2 as y
  from part
), cells as (
  select i.i, j.j from generate_series(0, 9) i(i), generate_series(0, 9) j(j)
), pairs as (
  select e.osm_id,
         'G' || c.i || '_' || c.j as zone_zone_id,
         greatest(0e0, least(e.xe, c.i + 1e0) - greatest(e.xs, cast(c.i as double))) as ov
  from edges e join cells c on e.y >= c.j and e.y < c.j + 1
)
select osm_id as edge_osm_id, zone_zone_id,
       cast(round(ov, 2) as double) as zone_link_length_m,
       cast(4e0 as double) as edge_link_length_m,
       cast(round(round(ov, 2) / 4e0, 4) as double) as zone_edge_proportion
from pairs where ov > 0
""",
)
def zone_intersect_lines_dist(spark, sf_dir):
    """The DISTRIBUTED zone-intersection path (operators.intersect_dist):
    zones arrive as a DataFrame, candidates come from a cell equi-JOIN
    instead of a broadcast index, and the exact clip runs as one batched
    pair kernel — the shape for zone tables too large to
    broadcast (10⁵–10⁶ census tracts).  100 grid zones here — 50× the
    flagship query's zone count and semantics-identical to
    zone_intersect_lines's kernel (hash-parity asserted in pytest)."""
    edges = _part_edges(spark, sf_dir)
    from osm_chordify_spark.operators import intersect_dist as _ID

    grid = [
        {
            "zone_id": f"G{i}_{j}",
            "geometry": [np.array(
                [[float(i), float(j)], [i + 1.0, float(j)],
                 [i + 1.0, j + 1.0], [float(i), j + 1.0]]
            )],
        }
        for i in range(10)
        for j in range(10)
    ]
    zdf = _ID.zones_to_df(spark, _I.Zones.from_records(grid))
    out = _I.intersect_lines_with_zones(
        edges, zdf, keep_geometry=False, zone_dispatch="dist"
    )
    return out.select(
        "edge_osm_id",
        "zone_zone_id",
        "zone_link_length_m",
        "edge_link_length_m",
        "zone_edge_proportion",
    )


@register(
    "zone_intersect_100k_zones_dist",
    oracle="""
with edges as (
  select p_partkey as osm_id,
         ((p_partkey * 7) % 60) / 1e1 + 1e-3 as xs,
         ((p_partkey * 7) % 60) / 1e1 + 1e-3 + 4e0 as xe,
         ((p_partkey * 13) % 95) / 1e1 + 25e-2 + 15625e-6 as y
  from part
), cols as (
  select i from generate_series(0, 319) t(i)
), pairs as (
  select e.osm_id,
         'G' || c.i || '_' || cast(floor(e.y * 32e0) as int) as zone_zone_id,
         greatest(0e0, least(e.xe, (c.i + 1) * 3125e-5)
                  - greatest(e.xs, c.i * 3125e-5)) as ov
  from edges e, cols c
)
select osm_id as edge_osm_id, zone_zone_id,
       cast(round(ov, 2) as double) as zone_link_length_m,
       cast(4e0 as double) as edge_link_length_m,
       cast(round(round(ov, 2) / 4e0, 4) as double) as zone_edge_proportion
from pairs where round(ov, 2) > 0
""",
)
def zone_intersect_100k_zones_dist(spark, sf_dir):
    """The distributed zone path at LAKE-SCALE zone count: 102,400
    (320x320) grid zones, synthesized DISTRIBUTED (spark.range spine +
    Arrow rect builder — no driver-side zone materialization anywhere),
    through the same cell equi-join + exact clip kernel.  This is the
    regime the broadcast index cannot reach: ZoneIndex.build is a
    serial driver loop (~66 s for these 102k zones, linear in zones,
    plus a pickle broadcast that scales with total ring vertices) while
    this path builds zone covers inside mapInPandas at full executor
    parallelism.  index_res=12 sizes cells (~0.09 deg) to the 0.03125-unit
    zones.  Float-parity design: zone width 2^-5 keeps zone boundaries
    binary-exact, the +2^-6 y offset keeps edges off row boundaries,
    and the +1e-3 x offset keeps every partial-overlap value >=2.5e-4
    away from a 2-dp rounding tie (kernel clip arithmetic and oracle
    subtraction can differ by 1 ulp, which flips ties like 0.025);
    sub-0.005 slivers round to 0.00 and are dropped identically by the
    kernel (rounded-length<=0 skip) and the oracle's round(ov,2)>0."""
    from osm_chordify_spark.operators import intersect_dist as _ID

    NG, W = 320, 0.03125
    zsp = spark.range(0, NG * NG, 1, 32).select(
        (F.col("id") % NG).alias("i"),
        ((F.col("id") - F.col("id") % NG) / NG).cast("long").alias("j"),
    )

    @F.pandas_udf("binary")
    def mk_rect(i: pd.Series, j: pd.Series) -> pd.Series:
        out = []
        for ii, jj in zip(i, j):
            x0, y0 = ii * W, jj * W
            out.append(_G.wkb_polygon(
                [[[x0, y0], [x0 + W, y0], [x0 + W, y0 + W], [x0, y0 + W]]]
            ))
        return pd.Series(out)

    zdf = zsp.select(
        F.concat(F.lit("G"), F.col("i"), F.lit("_"), F.col("j")).alias("zone_id"),
        mk_rect("i", "j").alias("geometry"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("osm_id"),
        F.expr("((p_partkey * 7) % 60) / 1e1 + 1e-3").alias("xs"),
        F.expr("((p_partkey * 13) % 95) / 1e1 + 25e-2 + 15625e-6").alias("y"),
    )

    @F.pandas_udf("binary")
    def mk_line(xs: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [_G.wkb_linestring([[x, yy], [x + 4.0, yy]]) for x, yy in zip(xs, y)]
        )

    edges = part.select(
        "osm_id", F.lit(4.0).alias("edge_length"), mk_line("xs", "y").alias("geometry")
    )
    out = _ID.intersect_lines_with_zones_dist(
        edges, zdf, keep_geometry=False, index_res=12
    )
    return out.select(
        "edge_osm_id",
        "zone_zone_id",
        "zone_link_length_m",
        "edge_link_length_m",
        "zone_edge_proportion",
    )


@register(
    "shapefile_zone_intersect",
    oracle="""
with edges as (
  select p_partkey as osm_id,
         ((p_partkey * 7) % 60) / 1e1 as xs,
         ((p_partkey * 7) % 60) / 1e1 + 4e0 as xe
  from part
), tracts as (
  select n_nationkey as t from nation
), pairs as (
  select e.osm_id,
         'T' || lpad(cast(t.t as varchar), 2, '0') as geoid,
         greatest(0e0, least(e.xe, (t.t + 1) * 4e-1)
                  - greatest(e.xs, t.t * 4e-1)) as ov
  from edges e, tracts t
)
select osm_id as edge_osm_id, geoid as zone_GEOID,
       cast(round(ov, 2) as double) as zone_link_length_m,
       cast(4e0 as double) as edge_link_length_m,
       cast(round(round(ov, 2) / 4e0, 4) as double) as zone_edge_proportion
from pairs where round(ov, 2) > 0
""",
)
def shapefile_zone_intersect(spark, sf_dir):
    """TIGER-style pipeline with the from-scratch shapefile codec
    (sources/shapefile.py): 25 tract polygons are WRITTEN as a real
    .shp/.shx/.dbf (attrs through dBase), read back DISTRIBUTED
    (executors seek per .shx record), and fed to the zone-intersect
    wrapper (auto-dispatch collects this small table onto the broadcast
    path) — the reference's boundary-file flow
    (utils/data_collection.py:141-270) minus only the network download,
    with no GeoPandas anywhere.  Tract ids ride the .dbf, so attribute
    parsing sits under the oracle hash too."""
    import os
    import tempfile

    import numpy as np

    from osm_chordify_spark.sources import shapefile as _SHP

    keys = [
        int(r.n_nationkey)
        for r in _t(spark, sf_dir, "nation").select("n_nationkey").collect()
    ]
    base = os.path.join(tempfile.gettempdir(), "spark_graft_shp_demo", "tracts")
    os.makedirs(os.path.dirname(base), exist_ok=True)
    _SHP.save_shapefile(
        [
            (
                {"GEOID": f"T{t:02d}"},
                [[np.array(
                    [[t * 0.4, 0.0], [(t + 1) * 0.4, 0.0],
                     [(t + 1) * 0.4, 10.0], [t * 0.4, 10.0]]
                )]],
            )
            for t in sorted(keys)
        ],
        base,
    )
    zones = _SHP.read_shapefile(spark, base).select("GEOID", "geometry")
    edges = _part_edges(spark, sf_dir)
    out = _I.intersect_lines_with_zones(edges, zones, keep_geometry=False)
    return out.select(
        "edge_osm_id",
        "zone_GEOID",
        "zone_link_length_m",
        "edge_link_length_m",
        "zone_edge_proportion",
    )


@register(
    "shapefile_many_zone_intersect",
    oracle="""
with edges as (
  select p_partkey as osm_id,
         ((p_partkey * 7) % 60) / 1e1 as xs,
         ((p_partkey * 7) % 60) / 1e1 + 4e0 as xe
  from part
), tracts as (
  select n_nationkey as t from nation
), pairs as (
  select e.osm_id,
         'T' || lpad(cast(t.t as varchar), 2, '0') as geoid,
         greatest(0e0, least(e.xe, (t.t + 1) * 4e-1)
                  - greatest(e.xs, t.t * 4e-1)) as ov
  from edges e, tracts t
)
select osm_id as edge_osm_id, geoid as zone_GEOID,
       cast(round(ov, 2) as double) as zone_link_length_m,
       cast(4e0 as double) as edge_link_length_m,
       cast(round(round(ov, 2) / 4e0, 4) as double) as zone_edge_proportion
from pairs where round(ov, 2) > 0
""",
)
def shapefile_many_zone_intersect(spark, sf_dir):
    """The TIGER many-file layout (VERDICT r4 item 2): the same 25
    tracts sharded across FOUR per-county ZIPs, ingested with
    read_shapefile_many — file list in executors, ZIP extraction +
    .shp walk + .dbf decode all inside one mapInPandas — then the same
    zone-intersect as shapefile_zone_intersect, whose oracle it must
    reproduce exactly (the multi-file front door may not perturb a
    single downstream value)."""
    import os
    import tempfile
    import zipfile

    import numpy as np

    from osm_chordify_spark.sources import shapefile as _SHP

    keys = sorted(
        int(r.n_nationkey)
        for r in _t(spark, sf_dir, "nation").select("n_nationkey").collect()
    )
    out_dir = os.path.join(tempfile.gettempdir(), "spark_graft_shp_many")
    os.makedirs(out_dir, exist_ok=True)
    zips = []
    for county in range(4):
        base = os.path.join(out_dir, f"tl_county{county}_tracts")
        _SHP.save_shapefile(
            [
                (
                    {"GEOID": f"T{t:02d}"},
                    [[np.array(
                        [[t * 0.4, 0.0], [(t + 1) * 0.4, 0.0],
                         [(t + 1) * 0.4, 10.0], [t * 0.4, 10.0]]
                    )]],
                )
                for t in keys
                if t % 4 == county
            ],
            base,
        )
        zp = base + ".zip"
        with zipfile.ZipFile(zp, "w") as zf:
            for ext in (".shp", ".shx", ".dbf"):
                zf.write(base + ext, os.path.basename(base) + ext)
        zips.append(zp)
    zones = _SHP.read_shapefile_many(spark, zips).select("GEOID", "geometry")
    edges = _part_edges(spark, sf_dir)
    out = _I.intersect_lines_with_zones(edges, zones, keep_geometry=False)
    return out.select(
        "edge_osm_id",
        "zone_GEOID",
        "zone_link_length_m",
        "edge_link_length_m",
        "zone_edge_proportion",
    )


@register(
    "zones_overlay_100k_x_100k_dist",
    oracle="""
with cells as (
  select a.i, b.j from generate_series(0, 319) a(i), generate_series(0, 319) b(j)
), d as (
  select * from (values (0, 0), (0, 1), (1, 0), (1, 1)) t(di, dj)
), pairs as (
  select c.i as bi, c.j as bj, c.i + d.di as ai, c.j + d.dj as aj
  from cells c cross join d
  where c.i + d.di < 320 and c.j + d.dj < 320
), m as (
  select bi, bj, ai, aj,
         greatest(0e0, least((ai + 1) * 3125e-3,
                             bi * 3125e-3 + 78125e-5 + 3125e-3)
                  - greatest(ai * 3125e-3, bi * 3125e-3 + 78125e-5)) as ox,
         greatest(0e0, least((aj + 1) * 3125e-3,
                             bj * 3125e-3 + 78125e-5 + 3125e-3)
                  - greatest(aj * 3125e-3, bj * 3125e-3 + 78125e-5)) as oy
  from pairs
)
select 'B' || bi || '_' || bj as edge_bid,
       'A' || ai || '_' || aj as zone_aid,
       cast(round(3125e-3 * 3125e-3, 2) as double) as edge_surface_m2,
       cast(round(ox * oy, 2) as double) as zone_surface_m2,
       cast(round(round(ox * oy, 2) / round(3125e-3 * 3125e-3, 2), 4)
            as double) as zone_edge_proportion
from m where round(ox * oy, 2) > 0
""",
)
def zones_overlay_100k_x_100k_dist(spark, sf_dir):
    """Zones×zones overlay (J4) at LAKE-SCALE on BOTH sides: two
    102,400-polygon grids (offset by a quarter cell) through the
    distributed polygon-subject path — neither side broadcasts or
    collects; candidates come from the cell equi-join of the two cover
    tables, overlap areas from one batched kernel over the candidate
    pairs.  Every interior subject overlaps exactly 4 zones with
    binary-exact areas (grid pitch 3.125 = 2^-5 scaled, offset
    0.78125 = 2^-7 scaled), so the rounded-area contract is
    float-parity-exact against the closed-form oracle."""
    from osm_chordify_spark.operators import intersect_dist as _ID

    NG, W, D = 320, 3.125, 0.78125

    def grid(prefix: str, dx: float, dy: float, id_col: str):
        zsp = spark.range(0, NG * NG, 1, 32).select(
            (F.col("id") % NG).alias("i"),
            ((F.col("id") - F.col("id") % NG) / NG).cast("long").alias("j"),
        )

        @F.pandas_udf("binary")
        def mk_rect(i: pd.Series, j: pd.Series) -> pd.Series:
            out = []
            for ii, jj in zip(i, j):
                x0, y0 = ii * W + dx, jj * W + dy
                out.append(_G.wkb_polygon(
                    [[[x0, y0], [x0 + W, y0], [x0 + W, y0 + W], [x0, y0 + W]]]
                ))
            return pd.Series(out)

        return zsp.select(
            F.concat(F.lit(prefix), F.col("i"), F.lit("_"), F.col("j")).alias(id_col),
            mk_rect("i", "j").alias("geometry"),
        )

    subjects = grid("B", D, D, "bid")
    zones = grid("A", 0.0, 0.0, "aid")
    # the grids live on a [0, 1024]² plane (not lon/lat): give the cell
    # index that world — 1024 = 2^10 keeps every cell boundary
    # binary-exact
    out = _ID.intersect_polygons_with_zones_dist(
        subjects, zones, length_col=None, keep_geometry=False,
        index_res=9, world=(0.0, 0.0, 1024.0, 1024.0),
    )
    return out.select(
        "edge_bid", "zone_aid", "edge_surface_m2", "zone_surface_m2",
        "zone_edge_proportion",
    )


@register(
    "warc_crawl_extract",
    oracle="""
select 'https://example.org/page/' || doc_id as url,
       200 as http_status,
       text
from documents
""",
)
def warc_crawl_extract(spark, sf_dir):
    """Common-Crawl-style ingestion with the from-scratch WARC codec
    (sources/warc.py): every document is WRITTEN as a WARC response
    record (HTTP envelope included, per-record gzip members — the
    splittable crawl layout), read back DISTRIBUTED (driver walks only
    member boundaries; executors decompress + unwrap their own
    records), and the extracted page text must hash-match the source
    table — the front door of the LLM-data pipeline the dedup/quality
    operators consume."""
    import os
    import tempfile

    from osm_chordify_spark.sources import warc as _W

    rows = _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    path = os.path.join(tempfile.gettempdir(), "spark_graft_crawl.warc.gz")
    _W.write_warc(
        (
            {
                "warc_type": "response",
                "warc_target_uri": f"https://example.org/page/{r.doc_id}",
                "warc_record_id": str(r.doc_id),
                "http_status": 200,
                "http_content_type": "text/plain; charset=utf-8",
                "payload": r.text.encode("utf-8"),
            }
            for r in sorted(rows, key=lambda r: r.doc_id)
        ),
        path,
        gzip_members=True,
    )
    df = _W.read_warc_gz(spark, path)
    return df.filter(F.col("warc_type") == "response").select(
        F.col("warc_target_uri").alias("url"),
        "http_status",
        F.col("payload").cast("string").alias("text"),
    )


@register(
    "warc_multi_crawl_pages",
    oracle=f"""
select 'https://example.org/page/' || doc_id as url,
       'crawl-' || (doc_id % 4) || '.warc.gz' as warc_file,
       text,
       {P.LON_SQL} as lon,
       {P.LAT_SQL} as lat
from documents
""",
)
def warc_multi_crawl_pages(spark, sf_dir):
    """Multi-archive crawl ingestion (VERDICT r4 item 2): documents are
    sharded into FOUR .warc.gz archives (doc_id % 4 — the Common-Crawl
    many-small-archives layout), then read back through
    read_warc_many — the file list goes to executors and ALL member
    scanning/decompression/parsing happens inside one mapInPandas (no
    driver-side per-record loop) — and the flagship extract/anchor
    chain must reproduce text and coordinates exactly.  Archive
    writing is driver-side fixture construction only."""
    import os
    import tempfile

    from osm_chordify_spark.operators import pages as _P
    from osm_chordify_spark.sources import warc as _W

    rows = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text", P.lon_col().alias("lon"), P.lat_col().alias("lat"))
        .collect()
    )
    out_dir = os.path.join(tempfile.gettempdir(), "spark_graft_multi_crawl")
    os.makedirs(out_dir, exist_ok=True)
    shards = {i: [] for i in range(4)}
    for r in sorted(rows, key=lambda r: r.doc_id):
        html = (
            _P._HTML_PRE + f"{r.lat!r};{r.lon!r}" + _P._HTML_MID
            + r.text + _P._HTML_POST
        ).encode("utf-8")
        shards[r.doc_id % 4].append(
            {
                "warc_type": "response",
                "warc_target_uri": f"https://example.org/page/{r.doc_id}",
                "warc_record_id": str(r.doc_id),
                "http_status": 200,
                "http_content_type": "text/html; charset=utf-8",
                "payload": html,
            }
        )
    paths = []
    for i, recs in shards.items():
        p = os.path.join(out_dir, f"crawl-{i}.warc.gz")
        _W.write_warc(recs, p, gzip_members=True)
        paths.append(p)

    recs = _W.read_warc_many(spark, paths)
    pages = recs.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    ).select(
        F.col("warc_target_uri").alias("url"),
        "warc_file",
        F.col("warc_date").alias("warc_ts"),
        F.col("payload").alias("html"),
    )
    out = _P.with_geo_anchors(_P.with_extracted_text_arrow(pages))
    return out.select(
        "url", "warc_file", F.col("extracted_text").alias("text"), "lon", "lat"
    )


@register(
    "acs_census_load",
    oracle="""
select lpad(cast(n_nationkey as varchar), 2, '0') || '001'
         || lpad(cast(n_nationkey * 7 as varchar), 6, '0') as GEOID,
       n_name as name,
       case when n_nationkey = 13 then null
            else cast(n_nationkey * 1000 + 37 as double) end as population
from nation
""",
)
def acs_census_load(spark, sf_dir):
    """The offline ACS flow (sources/census.py): a REST-shape ACS JSON
    response (header row + data rows, written at runtime from the
    nation table) loads into the GEOID-keyed population dimension —
    rename, FIPS concatenation, and numeric coercion (one deliberately
    non-numeric population → NULL) all under the oracle hash.  The
    network fetch itself is S10 (out of scope)."""
    import json
    import os
    import tempfile

    from osm_chordify_spark.sources import census as _CEN

    rows = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect()
    payload = [["NAME", "B01003_001E", "state", "county", "tract"]]
    for r in sorted(rows, key=lambda r: r.n_nationkey):
        k = int(r.n_nationkey)
        payload.append([
            r.n_name,
            "notanumber" if k == 13 else str(k * 1000 + 37),
            f"{k:02d}", "001", f"{k * 7:06d}",
        ])
    path = os.path.join(tempfile.gettempdir(), "spark_graft_acs_demo.json")
    with open(path, "w") as fh:
        json.dump(payload, fh)
    df = _CEN.load_acs_json(spark, path, geo_level="tract")
    return df.select("GEOID", "name", "population")


@register(
    "zone_intersect_polygons",
    oracle="""
with subj as (
  select s_suppkey as osm_id,
         ((s_suppkey * 11) % 80) / 1e1 as xs,
         ((s_suppkey * 13) % 75) / 1e1 + 25e-2 as ys
  from supplier
), pairs as (
  select osm_id,  'R0' as zone_zone_id,
         greatest(0e0, least(xs + 2e0, 5e0) - greatest(xs, 0e0))
         * greatest(0e0, least(ys + 2e0, 1e1) - greatest(ys, 0e0)) as ov
  from subj
  union all
  select osm_id, 'R1' as zone_zone_id,
         greatest(0e0, least(xs + 2e0, 1e1) - greatest(xs, 5e0))
         * greatest(0e0, least(ys + 2e0, 1e1) - greatest(ys, 0e0)) as ov
  from subj
)
select osm_id as edge_osm_id, zone_zone_id,
       cast(4e0 as double) as edge_surface_m2,
       cast(round(ov, 2) as double) as zone_surface_m2,
       cast(round(round(ov, 2) / 4e0, 4) as double) as zone_edge_proportion,
       cast(round(8e0 * round(round(ov, 2) / 4e0, 4), 2) as double) as zone_link_length_m
from pairs where ov > 0
""",
)
def zone_intersect_polygons(spark, sf_dir):
    """intersect_road_polygons_with_zones semantics: area-based
    proportions + surfaces (reference intersect.py:961-1230)."""
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("osm_id"),
        F.expr("((s_suppkey * 11) % 80) / 1e1").alias("xs"),
        F.expr("((s_suppkey * 13) % 75) / 1e1 + 25e-2").alias("ys"),
    )

    @F.pandas_udf("binary")
    def mk_rect(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _G.wkb_polygon(
                    [[[x, y], [x + 2.0, y], [x + 2.0, y + 2.0], [x, y + 2.0]]]
                )
                for x, y in zip(xs, ys)
            ]
        )

    polys = supp.select(
        "osm_id", F.lit(8.0).alias("edge_length"), mk_rect("xs", "ys").alias("geometry")
    )
    out = _I.intersect_polygons_with_zones(
        polys, _I.Zones.from_records(_RECT_ZONES), keep_geometry=False
    )
    return out.select(
        "edge_osm_id",
        "zone_zone_id",
        "edge_surface_m2",
        "zone_surface_m2",
        "zone_edge_proportion",
        "zone_link_length_m",
    )


@register(
    "polygon_union_area_by_nation",
    oracle="""
with rects as (
  select s_nationkey,
         cast((s_suppkey * 11) % 16 as int) as x2,
         cast((s_suppkey * 13) % 16 as int) as y2
  from supplier
), cells as (
  select distinct s_nationkey, x2 + i.i as cx, y2 + j.j as cy
  from rects, generate_series(0, 3) i(i), generate_series(0, 3) j(j)
)
select s_nationkey, cast(round(count(*) * 25e-2, 2) as double) as union_area
from cells group by s_nationkey
""",
)
def polygon_union_area_by_nation(spark, sf_dir):
    """General polygon boolean union (geom.union_polygons — U4, the
    reference's union_all step, utils/geo.py:153-201) exercised
    distributed: supplier-derived 2×2 rectangles grouped per nation,
    each group's TRUE union area computed in a grouped-map kernel.  The
    oracle decomposes the axis-aligned rects onto a half-unit lattice —
    an exact area oracle for the union."""
    supp = _t(spark, sf_dir, "supplier").select(
        "s_nationkey",
        (F.expr("(s_suppkey * 11) % 16") / F.lit(2.0)).alias("xs"),
        (F.expr("(s_suppkey * 13) % 16") / F.lit(2.0)).alias("ys"),
    )

    def union_group(pdf: pd.DataFrame) -> pd.DataFrame:
        polys = [
            [np.array([[x, y], [x + 2.0, y], [x + 2.0, y + 2.0], [x, y + 2.0]])]
            for x, y in zip(pdf["xs"], pdf["ys"])
        ]
        area = round(_G.union_area(polys), 2)
        return pd.DataFrame(
            {"s_nationkey": [pdf["s_nationkey"].iloc[0]], "union_area": [area]}
        )

    from osm_chordify_spark.operators.graph import _grouped_map

    return _grouped_map(
        supp, "s_nationkey", union_group,
        "s_nationkey long, union_area double",
    )


@register(
    "spatial_left_join",
    oracle="""
with edges as (
  select p_partkey as osm_id,
         ((p_partkey * 7) % 60) / 1e1 as xs,
         ((p_partkey * 7) % 60) / 1e1 + 4e0 as xe,
         ((p_partkey * 13) % 95) / 1e1 + 25e-2 as y
  from part
), hits as (
  select osm_id, zone_zone_id from (
    select osm_id, 'R0' as zone_zone_id,
           greatest(0e0, least(xe, 5e0) - greatest(xs, 0e0)) as ov from edges
    union all
    select osm_id, 'R1' as zone_zone_id,
           greatest(0e0, least(xe, 1e1) - greatest(xs, 5e0)) as ov from edges
  ) where ov > 0
)
select e.osm_id, h.zone_zone_id
from edges e left join hits h on e.osm_id = h.osm_id
""",
)
def spatial_left_join(spark, sf_dir):
    """spatial_left_join_with_zones: all rows kept, NULL zone attrs when
    unmatched (reference intersect.py:1497-1554)."""
    edges = _part_edges(spark, sf_dir)
    out = _I.spatial_left_join_with_zones(
        edges, _I.Zones.from_records(_RECT_ZONES)
    )
    return out.select("osm_id", "zone_zone_id")


@register(
    "spatial_left_join_dist",
    oracle="""
with edges as (
  select p_partkey as osm_id,
         ((p_partkey * 7) % 60) / 1e1 as xs,
         ((p_partkey * 7) % 60) / 1e1 + 4e0 as xe,
         ((p_partkey * 13) % 95) / 1e1 + 25e-2 as y
  from part
), cells as (
  select i.i, j.j from generate_series(0, 9) i(i), generate_series(0, 9) j(j)
), hits as (
  select e.osm_id, 'G' || c.i || '_' || c.j as zone_zone_id
  from edges e join cells c on e.y >= c.j and e.y < c.j + 1
  where greatest(0e0, least(e.xe, c.i + 1e0) - greatest(e.xs, cast(c.i as double))) > 0
)
select e.osm_id, h.zone_zone_id
from edges e left join hits h on e.osm_id = h.osm_id
""",
)
def spatial_left_join_dist(spark, sf_dir):
    """Distributed left spatial join (operators.intersect_dist): zones
    as a 100-polygon DataFrame, candidates from the cell equi-join, k
    matching zones ⇒ k rows, NULLs kept — the non-broadcastable-zones
    variant of spatial_left_join (row-parity with the broadcast path
    pinned in pytest)."""
    edges = _part_edges(spark, sf_dir)
    from osm_chordify_spark.operators import intersect_dist as _ID

    grid = [
        {
            "zone_id": f"G{i}_{j}",
            "geometry": [np.array(
                [[float(i), float(j)], [i + 1.0, float(j)],
                 [i + 1.0, j + 1.0], [float(i), j + 1.0]]
            )],
        }
        for i in range(10)
        for j in range(10)
    ]
    zdf = _ID.zones_to_df(spark, _I.Zones.from_records(grid))
    out = _I.spatial_left_join_with_zones(edges, zdf, zone_dispatch="dist")
    return out.select("osm_id", "zone_zone_id")


# ---------------------------------------------------------------------------
# graph operators (SURVEY §2.9 — chordify contraction, components)

from osm_chordify_spark.operators import graph as _GR  # noqa: E402


@register(
    "chordify_contraction",
    oracle="""
select cast(min(p_partkey) as bigint) as u,
       cast(max(p_partkey) + 1 as bigint) as v,
       cast(count(*) as double) as length,
       'h' || cast(cast(floor(p_partkey / 5) as int) as varchar) as highway,
       'yes' as oneway
from part
group by floor(p_partkey / 5)
""",
)
def chordify_contraction(spark, sf_dir):
    """Degree-2 collapse on a deterministic path graph: edges
    i→i+1 with highway switching every 5 nodes; each 5-edge run
    collapses into one chord with summed length (reference
    graph.py:922-962 via iterative DataFrame contraction)."""
    part = _t(spark, sf_dir, "part")
    edges = part.select(
        F.col("p_partkey").alias("u"),
        (F.col("p_partkey") + 1).alias("v"),
        F.lit(0).alias("key"),
        F.col("p_partkey").alias("osmid"),
        F.lit(1.0).alias("length"),
        F.concat(F.lit("h"), F.floor(F.col("p_partkey") / 5).cast("int").cast("string")).alias(
            "highway"
        ),
        F.lit("yes").alias("oneway"),
    )
    out = _GR.chordify(edges, edge_attrs_differ=["highway"], track_merged=False)
    return out.select("u", "v", "length", "highway", "oneway")


@register(
    "graph_components",
    oracle="""
select range as id, cast(floor(range / 10) as bigint) * 10 as component
from range(0, 1000)
""",
)
def graph_components(spark, sf_dir):
    """Connected components via min-label propagation + pointer doubling
    (reference graph.py:987-1002 largest-component machinery) on a
    deterministic 100-block graph."""
    n = 1000
    pairs = (
        spark.range(n)
        .filter((F.col("id") % 10) != 9)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    return _GR.connected_components(pairs).select("id", "component")


@register(
    "edge_id_hash",
    oracle="""
select p_partkey,
       substring(md5(cast(p_partkey as varchar) || '_' ||
                     cast(p_partkey + 1 as varchar) || '_0_' ||
                     cast(p_partkey as varchar)), 1, 12) as edge_id
from part
""",
)
def edge_id_hash(spark, sf_dir):
    """Deterministic 12-hex edge id (reference graph.py:312-343) — md5
    parity between Spark, DuckDB, and hashlib."""
    part = _t(spark, sf_dir, "part")
    edges = part.select(
        F.col("p_partkey"),
        F.col("p_partkey").alias("u"),
        (F.col("p_partkey") + 1).alias("v"),
        F.lit(0).alias("key"),
        F.col("p_partkey").alias("osmid"),
    )
    return _GR.create_unique_edge_id(edges).select("p_partkey", "edge_id")


@register(
    "knn_segment_match",
    oracle="""
with pts as (
  select c_custkey as point_id,
         ((c_custkey * 3) % 100) / 1e1 + 5e-2 as x,
         ((c_custkey * 7) % 100) / 1e1 + 5e-2 as y
  from customer
), segs as (
  select p_partkey as seg_id,
         ((p_partkey * 11) % 100) / 1e1 + 5e-2 as mx,
         ((p_partkey * 17) % 100) / 1e1 + 5e-2 as my
  from part
)
select point_id, seg_id, rank from (
  select p.point_id, s.seg_id,
         row_number() over (
           partition by p.point_id
           order by sqrt((p.x - s.mx) * (p.x - s.mx) + (p.y - s.my) * (p.y - s.my)),
                    s.seg_id
         ) as rank
  from pts p cross join segs s
) where rank <= 2
""",
)
def knn_segment_match(spark, sf_dir):
    """Exact kNN map-matching of points to segment midpoints via
    expanding cell-ring search (the reference's stubbed
    match_road_network_geometries, main.py:219-265, implemented for
    real per north_star).  The oracle is the O(n·m) brute force."""
    from osm_chordify_spark.operators.knn import knn_match

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        F.expr("((c_custkey * 3) % 100) / 1e1 + 5e-2").alias("x"),
        F.expr("((c_custkey * 7) % 100) / 1e1 + 5e-2").alias("y"),
    )
    segs = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("seg_id"),
        F.expr("((p_partkey * 11) % 100) / 1e1 + 5e-2").alias("mx"),
        F.expr("((p_partkey * 17) % 100) / 1e1 + 5e-2").alias("my"),
    )
    out = knn_match(pts, segs, k=2, res=10)
    return out.select("point_id", "seg_id", "rank")


# ---------------------------------------------------------------------------
# training-data pipeline operators (dedup / text analysis / ANN)

from osm_chordify_spark.operators import ann as _ANN  # noqa: E402
from osm_chordify_spark.operators import dedup as _DD  # noqa: E402
from osm_chordify_spark.operators import textops as _TX  # noqa: E402


@register(
    "dedup_exact",
    oracle="""
select min(doc_id) as doc_id, count(*) as group_size
from documents group by substr(text, 1, 20)
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on a prefix key, min-id survivor."""
    docs = _t(spark, sf_dir, "documents")
    key = F.substring("text", 1, 20)
    survivors = _DD.exact_dedup(docs, key)
    sizes = docs.groupBy(key.alias("__k")).agg(F.count("*").alias("group_size"))
    return (
        survivors.withColumn("__k", key)
        .join(sizes, "__k")
        .select("doc_id", "group_size")
    )


_GRAMS_SQL = """
with w as (
  select doc_id, regexp_split_to_array(trim(text), '\\s+') as arr from documents
), g as (
  select doc_id,
         list_distinct(list_transform(range(1, greatest(len(arr) - 1, 0) + 1),
                       i -> arr[i] || ' ' || arr[i + 1])) as grams
  from w
)
"""


@register(
    "ngram_jaccard_pairs",
    oracle=_GRAMS_SQL
    + """
select a.doc_id as id_a, b.doc_id as id_b,
       cast(len(list_intersect(a.grams, b.grams)) as double)
       / len(list_distinct(list_concat(a.grams, b.grams))) as jac
from g a join g b on a.doc_id < b.doc_id
where len(list_distinct(list_concat(a.grams, b.grams))) > 0
  and cast(len(list_intersect(a.grams, b.grams)) as double)
      / len(list_distinct(list_concat(a.grams, b.grams))) >= 15e-2
""",
)
def ngram_jaccard_pairs_q(spark, sf_dir):
    """Word-bigram Jaccard near-dup pairs (all-pairs verification path;
    the LSH path is minhash_lsh_dedup)."""
    docs = _t(spark, sf_dir, "documents")
    return _DD.ngram_jaccard_pairs(docs, n=2, threshold=0.15)


@register(
    "bigram_rarity_profile",
    oracle=r"""
with w as (
  select doc_id, regexp_split_to_array(trim(text), '\s+') as arr from documents
), b as (
  select doc_id, unnest(list_transform(range(1, greatest(len(arr) - 1, 0) + 1),
                 i -> arr[i] || ' ' || arr[i + 1])) as bg
  from w
), c as (
  select bg, count(*) as c from b group by bg
)
select b.doc_id,
       count(*) as n_bigrams,
       count(distinct b.bg) as n_distinct_bigrams,
       cast(sum(case when c.c <= 2 then 1 else 0 end) as bigint) as rare_bigrams,
       max(c.c) as max_bigram_count
from b join c using (bg) group by b.doc_id
""",
)
def bigram_rarity_profile(spark, sf_dir):
    """Corpus bigram-rarity quality profile (textops.bigram_rarity):
    exact integer novelty counters per document — the engine-portable
    stand-in for n-gram LM scoring (see operator docstring for why no
    log-prob floats)."""
    from osm_chordify_spark.operators import textops as _TX

    return _TX.bigram_rarity(_t(spark, sf_dir, "documents"))


@register(
    "exact_substring_dedup",
    oracle=r"""
with corpus as (
  select doc_id, text from documents
  union all
  select doc_id + 100000 as doc_id, text || ' zz tail' as text
  from documents where doc_id % 5 = 0
), t as (
  select doc_id, regexp_split_to_array(trim(text), '\s+') as arr from corpus
), s as (
  select doc_id, array_to_string(arr[i:i+49], ' ') as sh
  from t, unnest(range(1, greatest(len(arr) - 49, 0) + 1)) as u(i)
)
select distinct a.doc_id as doc_a, b.doc_id as doc_b
from s a join s b on a.sh = b.sh and a.doc_id < b.doc_id
""",
)
def exact_substring_dedup(spark, sf_dir):
    """Exact-substring dedup (Lee-et-al 50-token overlap) via
    content-defined segment hashing (dedup.exact_substring_pairs):
    planted near-copies (every 5th doc re-emitted with a tail) must be
    found EXACTLY — the oracle is the brute-force stride-1 50-token
    shingle join, the engine is the bucketed segment design (~1/4 the
    shuffle, no all-pairs, verified anchors)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz tail")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    out = _DD.exact_substring_pairs(corpus, min_tokens=50, seg_mod=4)
    return out.select("doc_a", "doc_b")


@register("minhash_lsh_dedup")  # rows-only: banded-LSH candidates are not SQL-expressible
def minhash_lsh_dedup_q(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = _DD.minhash_lsh_dedup(docs, num_perm=32, bands=8, verify_threshold=0.5)
    return out.select("doc_id")


@register("simhash_pairs")  # rows-only
def simhash_pairs_q(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _DD.simhash_pairs(docs, max_hamming=6)


_LANG_SCORE_SQL = {
    "de": r"len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist)\b'))",
    "en": r"len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is)\b'))",
    "es": r"len(regexp_extract_all(text, '(?i)\b(el|la|de|que|los)\b'))",
    "fr": r"len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est)\b'))",
}


@register(
    "text_analysis",
    oracle=f"""
with s as (
  select doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) as n_tokens,
         len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])')) as bpe_tokens,
         list_min(list_transform(range(1, greatest(length(text) - 7, 0) + 1),
                  r -> md5(substr(text, r, 8)))) as fingerprint,
         {_LANG_SCORE_SQL['de']} as s_de,
         {_LANG_SCORE_SQL['en']} as s_en,
         {_LANG_SCORE_SQL['es']} as s_es,
         {_LANG_SCORE_SQL['fr']} as s_fr
  from documents
)
select doc_id, n_tokens, bpe_tokens, fingerprint,
       case when greatest(s_de, s_en, s_es, s_fr) = 0 then 'und'
            when s_de >= s_en and s_de >= s_es and s_de >= s_fr then 'de'
            when s_en >= s_es and s_en >= s_fr then 'en'
            when s_es >= s_fr then 'es'
            else 'fr' end as pred_lang
from s
""",
)
def text_analysis(spark, sf_dir):
    """Token counting, BPE-ish tokenization, language id, rolling
    fingerprint — one codegen projection (reference analog: the tag
    extraction/normalization layer, tags.py regex patterns)."""
    from osm_chordify_spark.functions.skew import fan_out

    # heavy per-row regex/HOF projection: spread the single-split scan
    docs = fan_out(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        _TX.token_count(t).alias("n_tokens"),
        _TX.bpe_ish_token_count(t).alias("bpe_tokens"),
        _TX.doc_fingerprint(t).alias("fingerprint"),
        _TX.langid(t).alias("pred_lang"),
    )


@register(
    "quality_scores",
    oracle="""
select doc_id,
       length(text) as n_chars,
       len(regexp_extract_all(text, '([.,!?;:])')) as n_punct,
       len(regexp_extract_all(text, '(?i)\\b(the|a|of|and|to|in|is|it|that|for)\\b')) as n_stop
from documents
""",
)
def quality_scores(spark, sf_dir):
    """Quality-feature extraction (counts only — the composite score
    involves ratios whose rounding is engine-specific)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    stop_pat = r"(?i)\b(the|a|of|and|to|in|is|it|that|for)\b"
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        F.size(F.regexp_extract_all(t, F.lit(r"([.,!?;:])"), F.lit(1))).alias("n_punct"),
        F.size(F.regexp_extract_all(t, F.lit(stop_pat), F.lit(1))).alias("n_stop"),
    )


@register(
    "ann_cosine_topk",
    oracle="""
with q as (select vec_id as query_id, cast(embedding as double[]) as qv
           from embeddings where vec_id < 10),
     v as (select vec_id, cast(embedding as double[]) as vv from embeddings)
select query_id, vec_id, rank from (
  select q.query_id, v.vec_id,
         row_number() over (
           partition by q.query_id
           order by round(list_cosine_similarity(q.qv, v.vv), 6) desc, v.vec_id
         ) as rank
  from q cross join v where v.vec_id <> q.query_id
) where rank <= 5
""",
)
def ann_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 (the ANN baseline); double-
    precision sequential dot products; cosine rounded to 6 dp before
    ranking so float noise can't flip ranks across engines."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = _ANN.cosine_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id", "rank")


@register(
    "ann_ivf_topk",
    oracle="""
with q as (select vec_id as query_id, cast(embedding as double[]) as qv
           from embeddings where vec_id < 10),
     v as (select vec_id, cast(embedding as double[]) as vv from embeddings)
select query_id, vec_id, rank from (
  select q.query_id, v.vec_id,
         row_number() over (
           partition by q.query_id
           order by round(list_cosine_similarity(q.qv, v.vv), 6) desc, v.vec_id
         ) as rank
  from q cross join v where v.vec_id <> q.query_id
) where rank <= 5
""",
)
def ann_ivf_topk(spark, sf_dir):
    """IVF inverted-list ANN (coarse k-means quantizer, list equi-join,
    exact re-rank).  Run here at nprobe == n_lists so the result is
    provably EXACT and the full plumbing (quantizer training, list
    assignment, probing, re-rank) is hash-gated against the brute-force
    oracle; the approximate regime (nprobe < n_lists) is recall-tested
    in pytest (test_ivf_topk_recall_and_exactness_at_full_probe)."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = _ANN.ivf_topk(emb, queries, dim, k=5, n_lists=16, nprobe=16)
    return out.select("query_id", "vec_id", "rank")


@register("ann_lsh_topk")  # rows-only: approximate (recall < 1 by design)
def ann_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # few bits + several tables: the synthetic embeddings are near-
    # uniform on the sphere (the SRP hard case) — recall@5 ≥ 0.6 at
    # these settings is pytest-asserted (test_dedup_ops); at lake scale
    # n_bits should grow ~log2(n / target_bucket_size)
    return _ANN.lsh_bucket_topk(emb, queries, dim=dim, k=5, n_bits=4, n_tables=12)


@register("ann_pq_topk")  # rows-only: approximate (ADC prune) by design
def ann_pq_topk(spark, sf_dir):
    """IVF-PQ with asymmetric-distance pruning + exact re-rank — the
    lake-scale ANN: the candidate scan carries only (id, list, m=8
    codes), float vectors re-enter solely for the surviving
    refine*k ids.  Exactness at full probe/refine and the recall
    floor are pytest-pinned
    (test_ivf_pq_topk_recall_and_full_refine_exactness)."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return _ANN.ivf_pq_topk(
        emb, queries, dim, k=5, n_lists=16, nprobe=12, m=8, refine=12
    )


# ---------------------------------------------------------------------------
# diagnostics / process_tags / additional relational coverage

from osm_chordify_spark.operators import diagnostics as _DG  # noqa: E402
from osm_chordify_spark.operators.process_tags import process_tags as _PT  # noqa: E402


@register(
    "edge_quality_summary",
    oracle="""
select count(*) as n_edges,
       cast(0 as bigint) as missing_length,
       cast(sum(case when l_quantity <= 0 then 1 else 0 end) as bigint) as nonpositive_length,
       cast(sum(case when l_quantity < 15e0 then 1 else 0 end) as bigint) as short_links,
       cast(sum(case when l_quantity > 1e4 then 1 else 0 end) as bigint) as long_links,
       min(l_extendedprice) as speed_min,
       max(l_extendedprice) as speed_max
from lineitem
""",
)
def edge_quality_summary_q(spark, sf_dir):
    """A12 edge-quality summary over lineitem-as-edges (reference
    graph.py:477-499: one agg pass, many conditional sums)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("length"),
        F.col("l_extendedprice").alias("speed_kph"),
    )
    out = _DG.edge_quality_summary(li, oneway_col=None)
    return out.select(
        "n_edges", "missing_length", "nonpositive_length",
        "short_links", "long_links", "speed_min", "speed_max",
    )


@register(
    "events_value_histogram",
    oracle="""
select floor(value / 25e0) * 25e0 as bucket_start, count(*) as n
from events where value is not null and value <= 5e2
group by 1
""",
)
def events_value_histogram(spark, sf_dir):
    """A14 link-length-style histogram via width buckets."""
    ev = _t(spark, sf_dir, "events").select(F.col("value").alias("length"))
    return _DG.link_length_histogram(ev, bucket_m=25.0, max_m=500.0)


from osm_chordify_spark.operators import sketch as _SK


@register(
    "kmv_distinct_users_per_event_type",
    oracle=_SK.kmv_oracle_sql("events", "user_id", ["event_type"], k=64),
)
def kmv_distinct_users_per_event_type(spark, sf_dir):
    """Beyond-reference corpus profiling: KMV distinct-count sketch of
    users per event type (operators/sketch.py).  k=64 < the 150 true
    distinct users, so the ESTIMATOR path is what the oracle gates —
    the 52-bit md5 hash + bigint arithmetic replays identically in
    DuckDB."""
    ev = _t(spark, sf_dir, "events")
    return _SK.kmv_distinct(ev, "user_id", ["event_type"], k=64)


@register(
    "cms_user_frequencies",
    # width 64 < the 150 distinct users, so cells genuinely collide —
    # the min-over-depth estimator (not a trivial exact count) is what
    # the oracle replays.
    oracle="""
with probes as (
  select user_id, row_idx,
         ('0x' || substr(md5('cms' || row_idx || ':' || cast(user_id as varchar)), 1, 13))::bigint % 64 as col_idx
  from (select user_id, unnest(range(3)) as row_idx from events)
), counters as (
  select row_idx, col_idx, count(*) as cnt from probes group by 1, 2
), keys as (
  select distinct user_id, row_idx, col_idx from probes
)
select k.user_id, cast(min(c.cnt) as bigint) as est_count
from keys k join counters c using (row_idx, col_idx)
group by k.user_id
""",
)
def cms_user_frequencies(spark, sf_dir):
    """Beyond-reference corpus profiling: count-min sketch of event
    frequencies per user (operators/sketch.py) — build the counter
    cells, then point-query every distinct user through the broadcast
    sketch."""
    ev = _t(spark, sf_dir, "events")
    counters = _SK.cms_build(ev, "user_id", depth=3, width=64)
    keys = ev.select("user_id").distinct()
    return _SK.cms_estimate(counters, keys, "user_id", depth=3, width=64)


_HQ_ARGS = dict(lo=0, hi=1_000_000, n_buckets=512,
                phis=((1, 4), (1, 2), (3, 4), (9, 10)))


@register(
    "histogram_value_quantiles",
    oracle=_SK.histogram_quantile_oracle_sql(
        "(select event_type, floor(value * 1000) as vmicro from events"
        " where value is not null) t",
        "vmicro", ["event_type"], **_HQ_ARGS,
    ),
)
def histogram_value_quantiles(spark, sf_dir):
    """Beyond-reference corpus profiling: mergeable histogram-quantile
    sketch (operators/sketch.py) — p25/p50/p75/p90 of event values per
    type off a fixed-grid bucket-count state (≤512 bigints per group;
    merge = cell sum).  Exact percentile() needs the whole column
    through a sort; this answers any phi off state a shard can ship.
    Values quantized to integer micro-units (floor(v·1000)) so every
    number in build and walk is a bigint — cross-engine exact."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", F.floor(F.col("value") * 1000).alias("vmicro"))
    )
    counts = _SK.histogram_build(ev, "vmicro", ["event_type"],
                                 _HQ_ARGS["lo"], _HQ_ARGS["hi"],
                                 _HQ_ARGS["n_buckets"])
    return _SK.histogram_quantiles(counts, ["event_type"],
                                   _HQ_ARGS["lo"], _HQ_ARGS["hi"],
                                   _HQ_ARGS["n_buckets"], _HQ_ARGS["phis"])


@register(
    "hll_distinct_users_per_event_type",
    oracle=_SK.hll_oracle_sql("events", "user_id", ["event_type"], p=6),
)
def hll_distinct_users_per_event_type(spark, sf_dir):
    """Beyond-reference corpus profiling: from-scratch HyperLogLog
    (operators/sketch.py) — m=64 registers per event type against 150
    true distinct users, so the RAW ESTIMATOR (rational alpha, exact
    shift/floor-div arithmetic) is what the oracle gates, not an exact
    fallback.  State is 64 small ints per group, merged by per-bucket
    max — the cheapest mergeable distinct sketch at lake scale."""
    ev = _t(spark, sf_dir, "events")
    return _SK.hll_distinct(ev, "user_id", ["event_type"], p=6)


from osm_chordify_spark.operators import search as _SEARCH

_BM25_QUERIES = [
    ("q_hashjoin", "hash join"),
    ("q_vecscan", "vector scan column"),
    ("q_slow", "slow query batch window"),
]


@register(
    "bm25_topk_search",
    oracle=_SEARCH.bm25_oracle_sql(
        "documents",
        "(values "
        + ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
        + ") q(query_id, query_text)",
        k=5,
    ),
)
def bm25_topk_search(spark, sf_dir):
    """Beyond-reference corpus search: inverted-index BM25 top-5 per
    query over the documents table (operators/search.py).  Integer-
    exact scoring (k1=6/5, b=3/4 folded into one rational; log-free
    idf) makes the ranked result value-hash gateable; the plan prunes
    postings to broadcast query terms before the only wide shuffle."""
    docs = _t(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES, "query_id string, query_text string")
    return _SEARCH.bm25_topk(docs, qs, k=5)


from osm_chordify_spark.operators import cluster as _CL


@register(
    "kmeans_embedding_clusters",
    oracle=_CL.kmeans_oracle_sql("embeddings", k=8, iters=3),
)
def kmeans_embedding_clusters(spark, sf_dir):
    """Beyond-reference embedding ops: integer-exact Lloyd k-means over
    the embeddings table (operators/cluster.py) — quantized floor(v·2^10)
    coordinates make squared distances, floored-mean centroids, and
    (dist, cid) argmin all bigint-exact, so three full Lloyd iterations
    replay bit-identically in DuckDB's unrolled-CTE oracle.  Per
    iteration the plan is one narrow argmin projection against the
    broadcast k×d centroid literal plus one map-side-combinable k×d
    aggregate — the classic scalable Lloyd shape."""
    emb = _t(spark, sf_dir, "embeddings")
    return _CL.kmeans_assign(emb, k=8, iters=3)


@register(
    "semdedup_embeddings",
    oracle=_CL.semdedup_oracle_sql("embeddings", k=8, iters=2, tau=(30, 100)),
)
def semdedup_embeddings(spark, sf_dir):
    """Beyond-reference semantic dedup (SemDeDup, Abbas et al. 2023):
    cluster embeddings, then flag members whose quantized cosine vs the
    cluster's min-id representative clears tau — the rational-tau test
    (tau_den·dot)² ≥ tau_num²·‖x‖²·‖r‖² keeps the screen integer-exact.
    tau=0.30 because the synthetic embeddings are near-uniform (real
    corpus embeddings cluster far tighter): at sf0.01 it flags 11/500
    rows, exercising both predicate branches under the value-hash."""
    emb = _t(spark, sf_dir, "embeddings")
    return _CL.semdedup(emb, k=8, iters=2, tau=(30, 100))


@register(
    "token_frequency_by_lang",
    oracle="""
select lang, token, n as count from (
  select lang, token, count(*) as n,
         row_number() over (partition by lang order by count(*) desc, token) as rk
  from (
    select lang, unnest(regexp_split_to_array(trim(text), '\\s+')) as token
    from documents
  ) group by lang, token
) where rk <= 5
""",
)
def token_frequency_by_lang(spark, sf_dir):
    """A16 tag-frequency stats regrafted onto tokens: top-5 tokens per
    language (explode + windowed top-N, reference analyze.py:116-226)."""
    docs = _t(spark, sf_dir, "documents")
    return _DG.token_frequency(docs, group_col="lang", top_n=5)


@register(
    "percentile_summary",
    oracle="""
select cast(quantile_cont(l_quantity, 0.25) as double) as q25,
       cast(quantile_cont(l_quantity, 0.50) as double) as q50,
       cast(quantile_cont(l_quantity, 0.75) as double) as q75,
       cast(round(avg(cast(l_quantity as decimal(18,2))), 4) as double) as mean_qty
from lineitem
""",
)
def percentile_summary(spark, sf_dir):
    """A15 density-stats pattern: exact interpolated quantiles."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.50)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.round(F.avg(F.col("l_quantity").cast("decimal(18,2)")), 4)
        .cast("double")
        .alias("mean_qty"),
    )


@register(
    "process_tags_pipeline",
    oracle="""
with e as (
  select l_orderkey, l_linenumber,
         case when l_linenumber % 3 = 0 then 'yes'
              when l_linenumber % 3 = 1 then '-1;-1' else 'junk' end as raw_oneway,
         case when l_linenumber % 2 = 0 then cast(l_quantity as varchar) || ' kg'
              else null end as raw_maxweight
  from lineitem
)
select l_orderkey, l_linenumber,
       case when l_linenumber % 3 = 0 then 'yes'
            when l_linenumber % 3 = 1 then '-1' else 'no' end as oneway,
       case when raw_maxweight is not null
            then cast(cast(regexp_extract(raw_maxweight, '^(\\d+\\.?\\d*)', 1) as double) * 1e-3 as double)
            else null end as maxweight,
       case when raw_maxweight is not null
                  and cast(regexp_extract(raw_maxweight, '^(\\d+\\.?\\d*)', 1) as double) * 1e-3 <= 45e-1
            then false else true end as mdv,
       case when raw_maxweight is not null
                  and cast(regexp_extract(raw_maxweight, '^(\\d+\\.?\\d*)', 1) as double) * 1e-3 <= 12e0
            then false else true end as hgv
from e
""",
)
def process_tags_pipeline(spark, sf_dir):
    """G6 process_tags: standardize oneway + weight, FHWA hgv/mdv
    downgrade (reference graph.py:222-309) over synthetic tag columns."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") % 3 == 0, "yes")
        .when(F.col("l_linenumber") % 3 == 1, "-1;-1")
        .otherwise("junk")
        .alias("oneway"),
        F.when(
            F.col("l_linenumber") % 2 == 0,
            F.concat(F.col("l_quantity").cast("string"), F.lit(" kg")),
        ).alias("maxweight"),
    )
    out = _PT(li, target_unit="tons", mdv_max=4.5, hdv_max=12.0)
    return out.select(
        "l_orderkey", "l_linenumber", "oneway", "maxweight", "mdv", "hgv"
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
select l_orderkey,
       cast(round(sum(cast(l_extendedprice as decimal(18,2))
                      * (1 - cast(l_discount as decimal(18,2)))), 2) as double) as revenue,
       o_orderdate
from customer c
join orders o on c.c_custkey = o.o_custkey
join lineitem l on l.l_orderkey = o.o_orderkey
where c.c_mktsegment = 'BUILDING'
  and o.o_orderdate < cast('1995-03-15' as timestamp)
  and l.l_shipdate > cast('1995-03-15' as timestamp)
group by l_orderkey, o_orderdate
order by revenue desc, o_orderdate, l_orderkey
limit 10
""",
)
def tpch_q3(spark, sf_dir):
    """Three-table join + agg + top-k (broadcast dim, shuffled fact)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    dec = lambda n: F.col(n).cast("decimal(18,2)")  # noqa: E731
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@register(
    "density_boundary_filter",
    oracle="""
with b as (
  select n_nationkey as geoid,
         (n_nationkey * 37 % 100 + 1) * 1e3 as population,
         (n_nationkey % 7 + 1) * 1e6 as area_m2
  from nation
), d as (
  select geoid, population, population / (area_m2 / 1e6) as density_per_km2
  from b
), r as (
  select geoid, density_per_km2,
         round((rank() over (order by density_per_km2)
                + (count(*) over (partition by density_per_km2) - 1) / 2.0)
               / count(*) over () * 100, 1) as density_pctile
  from d
)
select geoid, density_per_km2, density_pctile from r
where density_pctile >= 50
""",
)
def density_boundary_filter(spark, sf_dir):
    """F6 population-density percentile filter as the real operator
    (reference utils/data_collection.py:330-443)."""
    from osm_chordify_spark.operators.graph import filter_boundaries_by_density

    b = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("geoid"),
        F.expr("(n_nationkey * 37 % 100 + 1) * 1e3").alias("population"),
        F.expr("(n_nationkey % 7 + 1) * 1e6").alias("area_m2"),
    )
    out = filter_boundaries_by_density(b, min_density_pctile=50.0)
    return out.select("geoid", "density_per_km2", "density_pctile")


@register(
    "add_edge_speeds",
    oracle="""
with e as (
  select l_orderkey, l_linenumber,
         case when l_linenumber % 2 = 0 then 'primary' else 'residential' end as highway,
         case when l_linenumber % 3 = 0 then cast(cast(l_quantity as int) as varchar)
              else null end as maxspeed
  from lineitem
), parsed as (
  select *,
         case when maxspeed is not null
              then round(cast(maxspeed as double) / 1.60934) * 1.60934
              else null end as kph
  from e
), means as (
  select highway, avg(kph) as type_kph from parsed group by highway
)
select p.l_orderkey, p.l_linenumber,
       coalesce(p.kph, m.type_kph) as speed_kph
from parsed p join means m on p.highway = m.highway
""",
)
def add_edge_speeds_q(spark, sf_dir):
    """G9 speed imputation: parsed maxspeed → highway-type mean fallback
    (reference graph.py:904).  Note: round() here is DuckDB half-even on
    exact .5 only for odd integers /1.60934 — values are k/1.60934 with
    k integral, never an exact tie."""
    from osm_chordify_spark.operators.graph import add_edge_speeds

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") % 2 == 0, "primary")
        .otherwise("residential")
        .alias("highway"),
        F.when(
            F.col("l_linenumber") % 3 == 0,
            F.col("l_quantity").cast("int").cast("string"),
        ).alias("maxspeed"),
    )
    out = add_edge_speeds(li)
    return out.select("l_orderkey", "l_linenumber", "speed_kph")


@register(
    "events_sessionization",
    oracle="""
with marked as (
  select user_id, ts,
         case when ts - lag(ts) over (partition by user_id order by ts, event_id)
                   > interval 30 minutes
              or lag(ts) over (partition by user_id order by ts, event_id) is null
              then 1 else 0 end as new_session,
         event_id
  from events
), numbered as (
  select user_id, event_id,
         cast(sum(new_session) over (partition by user_id
                                     order by ts, event_id
                                     rows unbounded preceding) as bigint)
           as session_no
  from marked
)
select user_id, session_no, count(*) as n_events
from numbered group by user_id, session_no
""",
)
def events_sessionization(spark, sf_dir):
    """Gap-based sessionization (lag + running sum of session starts) —
    the event-time window pattern complementing the streaming module."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ: direct long casts are forbidden; use
    # microsecond epochs so the gap compare matches the oracle's exact
    # interval comparison (session tz is UTC on both engines)
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    lag_micros = F.unix_micros(F.lag("ts").over(w).cast("timestamp_ltz"))
    marked = ev.withColumn(
        "new_session",
        F.when(
            lag_micros.isNull() | (micros - lag_micros > 30 * 60 * 1_000_000), 1
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events")
    )


@register(
    "embedding_cosine_dedup",
    oracle="""
with copies as (
  select vec_id + 100000 as vec_id,
         list_prepend(embedding[1] + 5e-1, embedding[2:]) as embedding
  from embeddings where vec_id % 10 = 0
), allv as (
  select vec_id, embedding from embeddings union all select * from copies
), pairs as (
  select a.vec_id as ia, b.vec_id as ib
  from allv a join allv b on a.vec_id < b.vec_id
  where list_cosine_similarity(a.embedding, b.embedding) >= 7e-1
)
select vec_id from allv where vec_id not in (select ib from pairs)
""",
)
def embedding_cosine_dedup_q(spark, sf_dir):
    """Embedding-cosine near-dup removal: deterministic near-duplicates
    are derived in-query (every 10th vector gets a perturbed copy,
    first component +0.5 — cosine ≥ 0.87 to its source, ≤ 0.55 to
    everything else), then dedup keeps the min id per cosine cluster.
    This exercises the exact (oracle-verifiable) path; the LSH-bucketed
    scale path is recall-tested in pytest (test_dedup_ops)."""
    from osm_chordify_spark.operators.dedup import embedding_cosine_dedup as _ecd

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.5)).cast("float")),
            F.expr("slice(embedding, 2, size(embedding) - 1)"),
        ).alias("embedding"),
    )
    allv = emb.unionByName(copies)
    kept = _ecd(allv, threshold=0.7, method="exact")
    return kept.select("vec_id")


@register(
    "media_decode_features",
    # the stub decode is fully deterministic (per-id seeded PCG64), so
    # its expected output is PINNED as a committed parquet fixture,
    # generated once by an independent numpy re-derivation of the same
    # arithmetic (tests/fixtures/generate: see git history) — this
    # converts the row from rows-only to a true hash-compared oracle.
    # NOTE: fixture matches the sf0.01 documents table, the correctness
    # gate's fixed scale.
    oracle="""
select doc_id, width, height, mean_px
from read_parquet('/root/repo/tests/fixtures/media_expected_sf001.parquet')
""",
)
def media_decode_features(spark, sf_dir):
    """Multimodal plumbing: synthesize binary media, parse typed
    metadata, run the (stubbed) decode, emit byte-histogram embeddings
    consumable by the ANN operators."""
    from osm_chordify_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = MM.synthesize_media(docs)
    decoded = MM.decode_image_stub(MM.attach_media_metadata(media))
    return decoded.select(
        "doc_id",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.round(F.col("decoded.mean_px"), 4).alias("mean_px"),
    )


@register(
    "media_png_decode",
    # REAL codec under the correctness gate: payloads are genuine PNGs
    # (functions/png.py encoder, mixed scanline filters) and the query
    # runs the from-scratch decoder.  Expected stats are a committed
    # fixture RE-DERIVED WITH NUMPY ONLY from the per-id seeded pixel
    # synthesis (generator never imports the codec), so a decode bug in
    # ANY filter path breaks the hash.  Fixture matches sf0.01, the
    # gate's fixed scale.
    oracle="""
select doc_id, width, height, mean_px, std_px
from read_parquet('/root/repo/tests/fixtures/media_png_expected_sf001.parquet')
""",
)
def media_png_decode(spark, sf_dir):
    """Real PNG decode (stdlib zlib + NumPy unfilter, all five scanline
    filters) over Arrow-batched binary payloads — the real_decode=True
    branch of the multimodal decode plumbing."""
    from osm_chordify_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = MM.synthesize_png_media(docs)
    decoded = MM.decode_image_stub(media, real_decode=True)
    # raw doubles, no rounding: both sides run the identical
    # np.ndarray.mean over the identical pixels, so the doubles are
    # bit-equal — rounding would only ADD a half-up-vs-banker's hazard
    return decoded.select(
        "doc_id",
        F.col("decoded.width").alias("width"),
        F.col("decoded.height").alias("height"),
        F.col("decoded.mean_px").alias("mean_px"),
        F.col("decoded.std_px").alias("std_px"),
    )


@register(
    "media_wav_features",
    # REAL audio codec under the gate: payloads are genuine RIFF/WAVE
    # PCM16 files (functions/wav.py encoder; mono/stereo, varying rate
    # and length) and the query runs the from-scratch decoder.  The
    # oracle re-derives every feature from the closed-form sample
    # formula with pure bigint SQL — it never sees a byte of WAV — so
    # any framing/de-interleave/fmt-parse bug breaks the hash.
    oracle="""
with chans as (
  select doc_id, unnest(range(1 + doc_id % 2)) as ch from documents
), vals as (
  select doc_id, ch, i,
         ((doc_id * 7349 + ch * 131071 + i * 104729) % 65536) - 32768 as v
  from (
    select doc_id, ch,
           unnest(range(400 + (doc_id % 7) * 53)) as i
    from chans
  )
), lagged as (
  select doc_id, ch, i, v,
         lag(v) over (partition by doc_id, ch order by i) as prev
  from vals
)
select doc_id, cast(ch as bigint) as channel,
       cast(8000 * (1 + doc_id % 3) as bigint) as sample_rate,
       cast(count(*) as bigint) as n_samples,
       cast(max(abs(v)) as bigint) as peak_abs,
       cast(sum(abs(v)) as bigint) as sum_abs,
       cast(sum(case when prev is not null and v * prev < 0
                then 1 else 0 end) as bigint) as zero_crossings
from lagged group by doc_id, ch
""",
)
def media_wav_features(spark, sf_dir):
    """Real WAV decode over Arrow-batched binary payloads — the audio
    half of the multimodal surface (operators/multimodal.py,
    functions/wav.py)."""
    from osm_chordify_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = MM.synthesize_wav_media(docs)
    return MM.decode_audio_features(media)


_VALIDATION_TABLES_SQL = """
with nodes as (
  select c_custkey as node_id,
         ((c_custkey * 3) % 1000) / 1e1 as x,
         ((c_custkey * 7) % 1000) / 1e1 as y
  from customer
), edges as (
  select ((p_partkey * 3) % 1500) + 1 as u,
         ((p_partkey * 5) % 1500) + 1 as v,
         case when p_partkey % 13 = 0 then null
              else ((p_partkey * 101) % 200000) / 1e1 end as length,
         case (p_partkey % 7) when 0 then 'residential' when 1 then 'motorway'
              when 2 then 'secondary' when 3 then 'primary' when 4 then 'service'
              when 5 then 'tertiary' else 'trunk' end as highway,
         case when p_partkey % 11 = 0 then 'yes'
              else cast(null as varchar) end as bridge,
         case (p_partkey % 4) when 0 then 'yes' when 1 then 'no'
              when 2 then '-1' else 'maybe' end as oneway,
         case when p_partkey % 17 = 0 then null
              else ((p_partkey * 13) % 120) + 5e0 end as speed_kph
  from part
)
"""


@register(
    "graph_validation_summary",
    oracle=_VALIDATION_TABLES_SQL
    + """
, prot as (
  select *,
         (highway in ('motorway','motorway_link','trunk','trunk_link',
                      'primary','primary_link')
          or coalesce(lower(trim(bridge)) in ('yes','true','1'), false))
         as protected
  from edges
)
select metric, cast(value as double) as value from (
  select 'nodes' as metric, count(*) as value from nodes
  union all select 'edges', count(*) from edges
  union all select 'self_loops',
    coalesce(sum(case when u = v then 1 else 0 end), 0) from edges
  union all select 'protected_self_loops',
    coalesce(sum(case when u = v and protected then 1 else 0 end), 0) from prot
  union all select 'unprotected_self_loops',
    coalesce(sum(case when u = v and not protected then 1 else 0 end), 0) from prot
  union all select 'isolated_nodes', count(*) from nodes
    where node_id not in (select u from edges union select v from edges)
  union all select 'duplicate_coordinate_groups', count(*) from (
    select round(x, 7), round(y, 7) from nodes group by 1, 2 having count(*) > 1)
  union all select 'close_node_pairs', count(*) from nodes a
    join nodes b on a.x = b.x and a.y = b.y and a.node_id < b.node_id
  union all select 'missing_length',
    sum(case when length is null then 1 else 0 end) from edges
  union all select 'nonpositive_length',
    sum(case when length <= 0 then 1 else 0 end) from edges
  union all select 'short_links',
    sum(case when length < 15e0 then 1 else 0 end) from edges
  union all select 'long_links',
    sum(case when length > 1e4 then 1 else 0 end) from edges
  union all select 'invalid_oneway',
    sum(case when oneway not in ('yes','no','-1') then 1 else 0 end) from edges
  union all select 'speed_min', min(speed_kph) from edges
  union all select 'speed_max', max(speed_kph) from edges
  union all select 'highway:' || highway, count(*) from edges group by 1
) t
""",
)
def graph_validation_summary(spark, sf_dir):
    """A13 in FULL: the reference's graph-validation summary
    (graph.py:532-560 merged with summarize_edge_quality) as one
    operator — self-loops split by the protected-edge rule, isolates,
    duplicate-coordinate groups, close-node pairs, top-8 highway
    histogram, edge-quality counters — emitted long-format
    (metric, value) so every number sits under the oracle hash.  Weak
    connectivity (iterative CC, not SQL-expressible) is exercised by
    pytest instead."""
    from osm_chordify_spark.operators import diagnostics as _DG

    cust = _t(spark, sf_dir, "customer")
    nodes = cust.select(
        F.col("c_custkey").alias("node_id"),
        F.expr("((c_custkey * 3) % 1000) / 1e1").alias("x"),
        F.expr("((c_custkey * 7) % 1000) / 1e1").alias("y"),
    )
    part = _t(spark, sf_dir, "part")
    edges = part.select(
        F.expr("((p_partkey * 3) % 1500) + 1").alias("u"),
        F.expr("((p_partkey * 5) % 1500) + 1").alias("v"),
        F.expr(
            "case when p_partkey % 13 = 0 then null "
            "else ((p_partkey * 101) % 200000) / 1e1 end"
        ).alias("length"),
        F.expr(
            "case (p_partkey % 7) when 0 then 'residential' when 1 then 'motorway' "
            "when 2 then 'secondary' when 3 then 'primary' when 4 then 'service' "
            "when 5 then 'tertiary' else 'trunk' end"
        ).alias("highway"),
        F.expr(
            "case when p_partkey % 11 = 0 then 'yes' "
            "else cast(null as string) end"
        ).alias("bridge"),
        F.expr(
            "case (p_partkey % 4) when 0 then 'yes' when 1 then 'no' "
            "when 2 then '-1' else 'maybe' end"
        ).alias("oneway"),
        F.expr(
            "case when p_partkey % 17 = 0 then null "
            "else ((p_partkey * 13) % 120) + 5e0 end"
        ).alias("speed_kph"),
    )
    s = _DG.summarize_graph_validation(nodes, edges, close_threshold=0.05)
    scalar_keys = [
        "nodes", "edges", "self_loops", "protected_self_loops",
        "unprotected_self_loops", "isolated_nodes",
        "duplicate_coordinate_groups", "close_node_pairs",
        "missing_length", "nonpositive_length", "short_links",
        "long_links", "invalid_oneway", "speed_min", "speed_max",
    ]
    rows = [(k, float(s[k])) for k in scalar_keys]
    rows += [(f"highway:{k}", float(v)) for k, v in s["highway_type_counts"].items()]
    return spark.createDataFrame(rows, "metric string, value double")


@register(
    "orders_status_priority_cube",
    oracle="""
select coalesce(o_orderstatus, 'ALL') as status,
       coalesce(o_orderpriority, 'ALL') as priority,
       count(*) as n,
       cast(round(sum(cast(o_totalprice as decimal(18,2))), 2) as double) as total
from orders
group by cube (o_orderstatus, o_orderpriority)
""",
)
def orders_status_priority_cube(spark, sf_dir):
    """CUBE rollup (beyond-reference: the reference has no grouping
    sets — SURVEY §2.4 note — but a lake engine needs them)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@register(
    "customers_without_orders",
    oracle="""
select c_custkey from customer
where c_custkey not in (select o_custkey from orders where o_custkey is not null)
""",
)
def customers_without_orders(spark, sf_dir):
    """Anti-join (U5 set-difference pattern: removed = all − matched,
    reference graph.py:995)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@register(
    "props_tag_extract",
    oracle="""
select event_type,
       count(*) as n_events,
       cast(sum(cast(regexp_extract(props, '"k": ([0-9]+)', 1) as bigint)) as bigint) as k_total
from events
group by event_type
""",
)
def props_tag_extract(spark, sf_dir):
    """Semi-structured tag extraction + agg (reference osm/tags.py:8-49
    parse_other_tags / extract_tag_as_float: regex pull from packed
    strings, numeric cast, aggregate)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.regexp_extract(F.col("props"), '"k": ([0-9]+)', 1).cast("bigint")
        ).alias("k_total"),
    )


@register(
    "scc_components",
    oracle="""
select range as id,
       cast(case when range % 10 <= 4 then floor(range / 10) * 10
            else range end as bigint) as component
from range(0, 1000)
""",
)
def scc_components(spark, sf_dir):
    """G5 strong mode (reference graph.py:987-1002 retain strong): 100
    oneway 5-cycles, each trailing a dangling oneway chain into the next
    block — cycles are 5-vertex SCCs, chain vertices are singletons.
    Exercises both the trim phase (chains) and the forward/backward
    coloring (cycles)."""
    n = 1000
    ids = spark.range(n).filter(F.col("id") != n - 1)
    dst = F.when(F.col("id") % 10 == 4, F.col("id") - 4).otherwise(F.col("id") + 1)
    pairs = ids.select(F.col("id").alias("src"), dst.alias("dst"))
    # vertex 999 only appears as a destination; 998->999 keeps it in play
    return _GR.strongly_connected_components(pairs).select("id", "component")


@register(
    "compose_layers_priority",
    oracle="""
select distinct l_orderkey as u, l_linenumber as v, cast(0 as integer) as key,
       case when l_linenumber = 1 then 'primary' else 'residential' end as highway
from lineitem
""",
)
def compose_layers_priority(spark, sf_dir):
    """U3 multi-layer compose with later-layer-wins semantics
    (reference graph.py:706-739 nx.compose_all + adjust_and_add_graph):
    an overlay layer re-tags the linenumber-1 edges; compose must keep
    exactly one row per (u, v, key) with the overlay's attributes."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_orderkey").alias("u"),
        F.col("l_linenumber").alias("v"),
        F.lit(0).alias("key"),
        F.lit("residential").alias("highway"),
    )
    overlay = base.filter(F.col("v") == 1).withColumn("highway", F.lit("primary"))
    out = _GR.compose_layers([base, overlay])
    return out.select("u", "v", "key", "highway")


@register(
    "projected_intersect_lengths",
    oracle="""
with edges as (
  select p_partkey as k,
         ((p_partkey * 7) % 60) * 1e2 as xs,
         ((p_partkey * 7) % 60) * 1e2 + 4e3 as xe
  from part
), pairs as (
  select k, 'R0' as zone_zone_id,
         greatest(0e0, least(xe, 5e3) - greatest(xs, 0e0)) as ov from edges
  union all
  select k, 'R1' as zone_zone_id,
         greatest(0e0, least(xe, 1e4) - greatest(xs, 5e3)) as ov from edges
)
select k as edge_osm_id, zone_zone_id,
       cast(round(ov, 2) as double) as zone_link_length_m,
       cast(4e3 as double) as edge_link_length_m,
       cast(round(round(ov, 2) / 4e3, 4) as double) as zone_edge_proportion
from pairs where ov > 0
""",
)
def projected_intersect_lengths(spark, sf_dir):
    """F1/F2/G10/X10 end-to-end: lon/lat edges are PROJECTED to a local
    meter plane (functions.projection equirectangular; the reference's
    UTM step, utils/geo.py:204-272), then exactly intersected against
    meter-plane zones — zone lengths in meters must match the DuckDB
    interval oracle, proving degree→meter round-trip parity.  The
    geographic-rejection contract (intersect.py:111-119) is pytest-
    covered in test_projection_and_compose."""
    from osm_chordify_spark.functions import projection as _PJ

    crs = _PJ.local_crs(-100.0, 45.0)
    part = _t(spark, sf_dir, "part")
    lonlat = part.select(
        F.col("p_partkey").alias("osm_id"),
        (F.lit(crs.lon0) + F.expr("((p_partkey * 7) % 60) * 1e2") / F.lit(crs.k_x)).alias("lon_s"),
        (F.lit(crs.lon0) + (F.expr("((p_partkey * 7) % 60) * 1e2") + F.lit(4e3)) / F.lit(crs.k_x)).alias("lon_e"),
        (F.lit(crs.lat0) + F.expr("((p_partkey * 13) % 95) * 1e2 + 25e1") / F.lit(crs.k_y)).alias("lat"),
    )
    xs, y = _PJ.project_xy(F.col("lon_s"), F.col("lat"), crs)
    xe, _ = _PJ.project_xy(F.col("lon_e"), F.col("lat"), crs)
    pts = lonlat.select("osm_id", xs.alias("xs"), xe.alias("xe"), y.alias("y"))

    @F.pandas_udf("binary")
    def mk_line(xs: pd.Series, xe: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [_G.wkb_linestring([[a, yy], [b, yy]]) for a, b, yy in zip(xs, xe, y)]
        )

    edges = pts.select("osm_id", mk_line("xs", "xe", "y").alias("geometry"))
    zones = _I.Zones.from_records(
        [
            {"zone_id": "R0", "geometry": [np.array([[0.0, 0.0], [5e3, 0.0], [5e3, 1e4], [0.0, 1e4]])]},
            {"zone_id": "R1", "geometry": [np.array([[5e3, 0.0], [1e4, 0.0], [1e4, 1e4], [5e3, 1e4]])]},
        ],
        world=(-1e4, -1e4, 2e4, 2e4),
    )
    out = _I.intersect_lines_with_zones(edges, zones, keep_geometry=False)
    return out.select(
        "edge_osm_id", "zone_zone_id", "zone_link_length_m",
        "edge_link_length_m", "zone_edge_proportion",
    )


# ---------------------------------------------------------------------------
# raster ↔ vector (operators/raster.py — beyond-reference family named by
# the north-star scope: tiled raster model over the page coordinate domain)

_RASTER_CELLS_CTE = (
    _PAGES_COORDS_CTE
    + """
, cells as (
  select cast(floor((lon - (-13e1)) / 1e0) as bigint) as cx,
         cast(floor((lat - 2e1) / 1e0) as bigint) as cy,
         count(*) as v
  from coords group by 1, 2
)
"""
)


def _pages_grid():
    from osm_chordify_spark.operators.raster import GridSpec

    return GridSpec(x0=-130.0, y0=20.0, dx=1.0, dy=1.0, tile=32)


def _pages_density(spark, sf_dir):
    from osm_chordify_spark.operators import raster as R

    docs = _t(spark, sf_dir, "documents").select(
        P.lon_col().alias("lon"), P.lat_col().alias("lat")
    )
    grid = _pages_grid()
    return R.rasterize_points(docs, grid, "lon", "lat", stat="count"), grid


@register(
    "raster_point_density",
    oracle=_RASTER_CELLS_CTE + "select cx as cell_x, cy as cell_y, v as n from cells",
)
def raster_point_density(spark, sf_dir):
    """vector→raster→vector roundtrip: page coordinates binned into 1°
    tiles (two-phase agg, JVM-side tile assembly), then unpivoted back
    to long format — per-cell counts must match the plain SQL GROUP BY."""
    from osm_chordify_spark.operators import raster as R

    tiles, grid = _pages_density(spark, sf_dir)
    cells = R.raster_cells(tiles, grid)
    return cells.select(
        "cell_x", "cell_y", F.col("value").cast("long").alias("n")
    )


@register(
    "raster_zonal_stats",
    oracle=_RASTER_CELLS_CTE
    + """
select concat('Z', cast(floor((cy + 5e-1) / 2e1) as int),
              '_', cast(floor((cx + 5e-1) / 3e1) as int)) as zone_id,
       count(*) as n_cells,
       cast(sum(v) as bigint) as sum_value,
       cast(min(v) as bigint) as min_value,
       cast(max(v) as bigint) as max_value,
       round(cast(sum(v) as double) / count(*), 4) as mean_value
from cells group by 1
""",
)
def raster_zonal_stats(spark, sf_dir):
    """raster × vector: per-zone aggregates of the density raster via
    the broadcast cell→zone index (per-tile partial aggregation; the
    zone PIP on cell centers reduces to rect arithmetic in the oracle)."""
    from osm_chordify_spark.operators import raster as R

    tiles, grid = _pages_density(spark, sf_dir)
    stats = R.zonal_stats(tiles, grid, P.make_zone_grid(), res=7)
    return stats.select(
        "zone_id",
        "n_cells",
        F.col("sum_value").cast("long").alias("sum_value"),
        F.col("min_value").cast("long").alias("min_value"),
        F.col("max_value").cast("long").alias("max_value"),
        F.round("mean_value", 4).alias("mean_value"),
    )


@register(
    "raster_resample_sum",
    oracle=_RASTER_CELLS_CTE
    + """
select cast(floor(cx / 4) as bigint) as cell_x,
       cast(floor(cy / 4) as bigint) as cell_y,
       cast(sum(v) as bigint) as n
from cells group by 1, 2
""",
)
def raster_resample_sum(spark, sf_dir):
    """raster→raster: 4× block-sum coarsening of the density raster
    (present-cells-only contract) back out through raster_cells."""
    from osm_chordify_spark.operators import raster as R

    tiles, grid = _pages_density(spark, sf_dir)
    coarse, cgrid = R.resample(tiles, grid, factor=4, stat="sum")
    cells = R.raster_cells(coarse, cgrid)
    return cells.select(
        "cell_x", "cell_y", F.col("value").cast("long").alias("n")
    )


@register(
    "raster_vectorize_regions",
    oracle="""
select cast(r * 4 + c + 1 as bigint) as zone_value,
       cast(600 as bigint) as n_cells,
       cast(600 as double) as area,
       cast(c * 30 as bigint) as min_cell_x,
       cast(r * 20 as bigint) as min_cell_y,
       cast(c * 30 + 29 as bigint) as max_cell_x,
       cast(r * 20 + 19 as bigint) as max_cell_y
from generate_series(0, 2) t(r), generate_series(0, 3) u(c)
""",
)
def raster_vectorize_regions(spark, sf_dir):
    """raster→vector region extraction end-to-end: burn the 12-zone TAZ
    grid into 1° tiles (vector→raster), then recover the rectangles via
    distributed two-phase connected-component labeling (tile-local
    union-find + global label-graph CC).  The 30×20-cell rectangles are
    arithmetic, so the full CC pipeline is oracle-checkable here; the
    general (non-SQL-expressible) semantics are pytest-covered against
    a BFS reference in test_raster.py."""
    from osm_chordify_spark.operators import raster as R

    grid = _pages_grid()
    tiles = R.rasterize_zones(spark, P.make_zone_grid(), grid, res=7)
    regions = R.vectorize_regions(tiles, grid)
    return regions.select(
        F.col("value").cast("long").alias("zone_value"),
        "n_cells",
        "area",
        "min_cell_x",
        "min_cell_y",
        "max_cell_x",
        "max_cell_y",
    )


# ---------------------------------------------------------------------------
# hierarchical cell-set compression (H3 compact/uncompact analog)


def _compact_oracle() -> str:
    from osm_chordify_spark.functions.cells import cell_parent_sql

    par = cell_parent_sql("cell")
    sql = _PAGES_COORDS_CTE.rstrip() + f""",
l10 as (select distinct {cell_sql('lon', 'lat', 10)} as cell from coords)"""
    prev = "l10"
    union = []
    for r in (10, 9, 8):
        sql += f""",
p{r} as (select cell, {par} as par from {prev}),
f{r} as (select par from p{r} group by par having count(*) = 4),
k{r} as (select cell from p{r} where par not in (select par from f{r})),
l{r - 1} as (select par as cell from f{r})"""
        prev = f"l{r - 1}"
        union.append(f"select cell from k{r}")
    union.append("select cell from l7")
    return sql + "\nselect cell, cell >> 58 as res from (" + " union all ".join(union) + ")"


def _pages_cells10(spark, sf_dir):
    from osm_chordify_spark.functions.cells import cell_expr

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        cell_expr(P.lon_col(), P.lat_col(), 10).alias("cell")
    ).distinct()


@register("cell_compact", oracle=_compact_oracle())
def cell_compact(spark, sf_dir):
    """H3-compact analog over the hierarchical quadkey index: complete
    4-sibling groups of the pages' res-10 cells collapse to parents down
    to res 7 — one codegen aggregate shuffle per level.  The oracle
    replays the identical promotion rounds as chained SQL CTEs."""
    from osm_chordify_spark.functions.cells import compact_cells

    cells = _pages_cells10(spark, sf_dir)
    out = compact_cells(cells, min_res=7)
    return out.select("cell", F.shiftright("cell", 58).alias("res"))


@register(
    "cell_uncompact_roundtrip",
    oracle=_PAGES_COORDS_CTE
    + f"""
select distinct {cell_sql('lon', 'lat', 10)} as cell from coords
""",
)
def cell_uncompact_roundtrip(spark, sf_dir):
    """uncompact(compact(S)) == S for a single-resolution set S: the
    roundtrip must reproduce the original res-10 cell set exactly (the
    oracle is simply that original set)."""
    from osm_chordify_spark.functions.cells import compact_cells, uncompact_cells

    cells = _pages_cells10(spark, sf_dir)
    return uncompact_cells(compact_cells(cells, min_res=7), 10)


@register(
    "dissolve_nation_regions",
    oracle="""
with rects as (
  select s_nationkey,
         cast((s_suppkey * 11) % 16 as int) as x2,
         cast((s_suppkey * 13) % 16 as int) as y2
  from supplier
), cells as (
  select distinct s_nationkey, x2 + i.i as cx, y2 + j.j as cy
  from rects, generate_series(0, 3) i(i), generate_series(0, 3) j(j)
)
select s_nationkey,
       (select count(*) from rects r where r.s_nationkey = c.s_nationkey) as n_polys,
       cast(round(count(*) * 25e-2, 2) as double) as union_area
from cells c group by s_nationkey
""",
)
def dissolve_nation_regions(spark, sf_dir):
    """The dissolve OPERATOR (operators/dissolve.py — attribute-grouped
    boolean union, the GeoPandas-dissolve analog of the reference's
    county-union step, utils/geo.py:153-201) over supplier-derived
    rectangles: per nation, all rects union into one multipolygon.
    Checked columns: polygon count + exact lattice union area (the WKB
    geometry itself is pytest-verified in test_dissolve)."""
    from osm_chordify_spark.operators.dissolve import dissolve

    supp = _t(spark, sf_dir, "supplier").select(
        "s_nationkey",
        (F.expr("(s_suppkey * 11) % 16") / F.lit(2.0)).alias("xs"),
        (F.expr("(s_suppkey * 13) % 16") / F.lit(2.0)).alias("ys"),
    )

    @F.pandas_udf("binary")
    def mk_rect(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _G.wkb_polygon(
                    [np.array([[x, y], [x + 2.0, y], [x + 2.0, y + 2.0], [x, y + 2.0]])]
                )
                for x, y in zip(xs, ys)
            ]
        )

    rects = supp.select("s_nationkey", mk_rect("xs", "ys").alias("geometry"))
    out = dissolve(rects, "s_nationkey")
    return out.select(
        "s_nationkey", "n_polys", F.round("union_area", 2).alias("union_area")
    )


@register(
    "points_within_distance",
    oracle="""
with pts as (
  select c_custkey as point_id,
         ((c_custkey * 3) % 100) / 1e1 + 5e-2 as x,
         ((c_custkey * 7) % 100) / 1e1 + 5e-2 as y
  from customer
), segs as (
  select p_partkey as seg_id,
         ((p_partkey * 11) % 100) / 1e1 + 5e-2 as mx,
         ((p_partkey * 17) % 100) / 1e1 + 5e-2 as my
  from part
)
select p.point_id, s.seg_id,
       cast(round(sqrt((p.x - s.mx) * (p.x - s.mx) + (p.y - s.my) * (p.y - s.my)), 6) as double) as dist
from pts p cross join segs s
where sqrt((p.x - s.mx) * (p.x - s.mx) + (p.y - s.my) * (p.y - s.my)) <= 25e-2
""",
)
def points_within_distance(spark, sf_dir):
    """Range ("dwithin") spatial join (operators/knn.py
    within_distance_join): all point–segment pairs within 0.25 units,
    via a one-shot cell-cover equi-join — pure codegen, no Python, no
    iteration.  The oracle is the O(n·m) brute force."""
    from osm_chordify_spark.operators.knn import within_distance_join

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        F.expr("((c_custkey * 3) % 100) / 1e1 + 5e-2").alias("x"),
        F.expr("((c_custkey * 7) % 100) / 1e1 + 5e-2").alias("y"),
    )
    segs = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("seg_id"),
        F.expr("((p_partkey * 11) % 100) / 1e1 + 5e-2").alias("mx"),
        F.expr("((p_partkey * 17) % 100) / 1e1 + 5e-2").alias("my"),
    )
    out = within_distance_join(pts, segs, radius=0.25)
    return out.select("point_id", "seg_id", F.round("dist", 6).alias("dist"))


@register(
    "raster_focal_sum",
    oracle=_RASTER_CELLS_CTE
    + """
select cx + i.i as cell_x, cy + j.j as cell_y, cast(sum(v) as bigint) as n
from cells, generate_series(-1, 1) i(i), generate_series(-1, 1) j(j)
group by 1, 2
""",
)
def raster_focal_sum(spark, sf_dir):
    """Focal (3×3 neighborhood) sum over the density raster — map
    algebra's focal quadrant via scatter-gather: each present cell
    explodes to its 9 contribution targets, one hash aggregate with
    map-side combine collapses them (fully codegen, no Python)."""
    from osm_chordify_spark.operators import raster as R

    tiles, grid = _pages_density(spark, sf_dir)
    out = R.focal_stats(tiles, grid, radius=1, stat="sum")
    cells = R.raster_cells(out, grid)
    return cells.select(
        "cell_x", "cell_y", F.col("value").cast("long").alias("n")
    )


@register(
    "raster_zonal_stats_dist",
    oracle=_RASTER_CELLS_CTE
    + """
select concat('Z', cast(floor((cy + 5e-1) / 2e1) as int),
              '_', cast(floor((cx + 5e-1) / 3e1) as int)) as zone_id,
       count(*) as n_cells,
       cast(sum(v) as bigint) as sum_value,
       cast(min(v) as bigint) as min_value,
       cast(max(v) as bigint) as max_value,
       round(cast(sum(v) as double) / count(*), 4) as mean_value
from cells group by 1
""",
)
def raster_zonal_stats_dist(spark, sf_dir):
    """The DISTRIBUTED zonal-stats path (DataFrame zone table → cell
    equi-join + salted winding-number refinement; operators/raster.py
    zonal_stats_dist) — same oracle as the broadcast query, proving
    both paths meet the identical contract under the driver gate."""
    from osm_chordify_spark.operators import raster as R

    tiles, grid = _pages_density(spark, sf_dir)
    zdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "zone_id": [z for z, _ in P.make_zone_grid()],
                "geometry": [
                    _G.wkb_polygon(rings) for _, rings in P.make_zone_grid()
                ],
            }
        )
    )
    stats = R.zonal_stats_dist(tiles, grid, zdf, res=7)
    return stats.select(
        "zone_id",
        "n_cells",
        F.col("sum_value").cast("long").alias("sum_value"),
        F.col("min_value").cast("long").alias("min_value"),
        F.col("max_value").cast("long").alias("max_value"),
        F.round("mean_value", 4).alias("mean_value"),
    )


@register(
    "raster_zonal_stats_100k_dist",
    oracle=_PAGES_COORDS_CTE
    + """
, cells as (
  select cast(floor((lon - (-13e1)) / 125e-3) as bigint) as cx,
         cast(floor((lat - 2e1) / 125e-3) as bigint) as cy,
         count(*) as v
  from coords group by 1, 2
)
select concat('Z', cast(floor(cy / 2e0) as int),
              '_', cast(floor(cx / 2e0) as int)) as zone_id,
       count(*) as n_cells,
       cast(sum(v) as bigint) as sum_value,
       cast(min(v) as bigint) as min_value,
       cast(max(v) as bigint) as max_value,
       round(cast(sum(v) as double) / count(*), 4) as mean_value
from cells group by 1
""",
)
def raster_zonal_stats_100k_dist(spark, sf_dir):
    """Distributed zonal stats at LAKE-SCALE zone count: a 0.125-deg
    page-density raster against a 480x240 = 115,200-zone grid
    (0.25-deg tracts), synthesized DISTRIBUTED — the raster twin of
    zone_intersect_100k_zones_dist.  Zone-bucketed refinement groups
    (operators/raster.py zonal_stats_dist) keep Arrow group count
    bounded regardless of zone count.  Float-parity design: both cell
    (2^-3 deg) and zone (2^-2 deg) sizes are binary-exact, so raster
    cell centers (odd multiples of 2^-4) can NEVER sit on a zone
    boundary and the oracle's integer floor(cx/2) grouping is exactly
    the kernel's point-in-polygon assignment."""
    from osm_chordify_spark.operators import raster as R

    docs = _t(spark, sf_dir, "documents").select(
        P.lon_col().alias("lon"), P.lat_col().alias("lat")
    )
    grid = R.GridSpec(x0=-130.0, y0=20.0, dx=0.125, dy=0.125, tile=32)
    tiles = R.rasterize_points(docs, grid, "lon", "lat", stat="count")

    NGX, NGY, W = 480, 240, 0.25
    zsp = spark.range(0, NGX * NGY, 1, 32).select(
        (F.col("id") % NGX).alias("i"),
        ((F.col("id") - F.col("id") % NGX) / NGX).cast("long").alias("j"),
    )

    @F.pandas_udf("binary")
    def mk_rect(i: pd.Series, j: pd.Series) -> pd.Series:
        out = []
        for ii, jj in zip(i, j):
            x0, y0 = -130.0 + ii * W, 20.0 + jj * W
            out.append(_G.wkb_polygon(
                [[[x0, y0], [x0 + W, y0], [x0 + W, y0 + W], [x0, y0 + W]]]
            ))
        return pd.Series(out)

    zdf = zsp.select(
        F.concat(F.lit("Z"), F.col("j"), F.lit("_"), F.col("i")).alias("zone_id"),
        mk_rect("i", "j").alias("geometry"),
    )
    stats = R.zonal_stats_dist(tiles, grid, zdf, res=11)
    return stats.select(
        "zone_id",
        "n_cells",
        F.col("sum_value").cast("long").alias("sum_value"),
        F.col("min_value").cast("long").alias("min_value"),
        F.col("max_value").cast("long").alias("max_value"),
        F.round("mean_value", 4).alias("mean_value"),
    )


@register(
    "raster_sample_nearest",
    oracle=_RASTER_CELLS_CTE
    + """
select c.url, cast(coalesce(t.v, 0) as bigint) as sampled
from coords c
left join cells t
  on t.cx = cast(floor((c.lon - (-13e1)) / 1e0) as bigint)
 and t.cy = cast(floor((c.lat - 2e1) / 1e0) as bigint)
""",
)
def raster_sample_nearest(spark, sf_dir):
    """Point sampling of the raster (raster × vector, the inverse of
    rasterize): each page reads its own cell's density via one hash
    equi-join on cell ids — no Python, no raster broadcast.  Bilinear
    sampling is pytest-verified against NumPy (test_raster)."""
    from osm_chordify_spark.operators import raster as R

    tiles, grid = _pages_density(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://example.org/page/"), F.col("doc_id")).alias("url"),
        P.lon_col().alias("lon"),
        P.lat_col().alias("lat"),
    )
    out = R.sample_raster(docs, tiles, grid, x_col="lon", y_col="lat",
                          method="nearest")
    return out.select("url", F.col("sampled").cast("long").alias("sampled"))


@register(
    "events_asof_last_signup",
    oracle="""
select e.event_id,
       e.user_id,
       (select r.value from events r
         where r.user_id = e.user_id and r.event_type = 'signup'
           and r.ts <= e.ts
         order by r.ts desc, r.event_id desc limit 1) as signup_value,
       (select r.ts from events r
         where r.user_id = e.user_id and r.event_type = 'signup'
           and r.ts <= e.ts
         order by r.ts desc, r.event_id desc limit 1) as matched_ts
from events e where e.event_type = 'error'
""",
)
def events_asof_last_signup(spark, sf_dir):
    """As-of (point-in-time) join: every error event picks up the value
    of the user's latest signup at-or-before it (operators/asof.py —
    union + ordered-window carry, ONE sort shuffle on user_id, never a
    nested-loop range join).  Oracle: DuckDB correlated latest-row
    subquery with the same (ts, event_id) tie-break."""
    from osm_chordify_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        errors, signups, ts_col="ts", by_cols=["user_id"],
        value_cols=["value"], tie_col="event_id",
    )
    return out.select(
        "event_id", "user_id",
        F.col("value").alias("signup_value"), "matched_ts",
    )


_NEAREST_DISTS = """
, dists as (
  select url, lon, lat,
         sqrt(power(greatest(-13e1 - lon, lon - (-1e2), 0e0), 2)
            + power(greatest(2e1 - lat, lat - 4e1, 0e0), 2)) as da,
         sqrt(power(greatest(-4e1 - lon, lon - (-1e1), 0e0), 2)
            + power(greatest(6e1 - lat, lat - 8e1, 0e0), 2)) as db
  from coords
)
"""


@register(
    "pages_nearest_zone",
    oracle=_PAGES_COORDS_CTE.rstrip() + _NEAREST_DISTS + """
select url, case when da <= db then 'Z0_0' else 'Z2_3' end as zone_id
from dists where abs(da - db) > 1e-6
""",
)
def pages_nearest_zone(spark, sf_dir):
    """sjoin_nearest analog: with only 2 of the 12 zones kept, most
    pages fall OUTSIDE every zone and must be assigned to the zone with
    the minimum exact boundary distance (pip_assign(how='nearest') →
    ZoneIndex.assign_points_nearest, expanding cell-ring candidate
    search with the (r-1)·cell_min stop bound).  The oracle computes
    rectangle distances in closed form; near-bisector points (gap ≤
    1e-6, where fp could legitimately flip the argmin) are excluded by
    the IDENTICAL filter on both sides."""
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://example.org/page/"), F.col("doc_id")).alias("url"),
        P.lon_col().alias("lon"),
        P.lat_col().alias("lat"),
    )
    zones = [z for z in P.make_zone_grid() if z[0] in ("Z0_0", "Z2_3")]
    assigned = P.pip_assign(docs, zones=zones, res=7, how="nearest")
    da = F.sqrt(
        F.pow(F.greatest(F.lit(-130.0) - F.col("lon"), F.col("lon") - F.lit(-100.0), F.lit(0.0)), F.lit(2.0))
        + F.pow(F.greatest(F.lit(20.0) - F.col("lat"), F.col("lat") - F.lit(40.0), F.lit(0.0)), F.lit(2.0))
    )
    db = F.sqrt(
        F.pow(F.greatest(F.lit(-40.0) - F.col("lon"), F.col("lon") - F.lit(-10.0), F.lit(0.0)), F.lit(2.0))
        + F.pow(F.greatest(F.lit(60.0) - F.col("lat"), F.col("lat") - F.lit(80.0), F.lit(0.0)), F.lit(2.0))
    )
    return assigned.filter(F.abs(da - db) > 1e-6).select("url", "zone_id")


@register(
    "pages_nearest_zone_163k_dist",
    oracle=_PAGES_COORDS_CTE
    + """
select url,
       concat('N', cast(floor((lat - 199995e-4) / 21e-2) as int),
              '_', cast(floor((lon + 1300005e-4) / 21e-2) as int)) as zone_id
from coords
""",
)
def pages_nearest_zone_163k_dist(spark, sf_dir):
    """Nearest-zone assignment at LAKE-SCALE zone count: 572x286 =
    163,592 grid zones covering the full page extent, through the
    DISTRIBUTED annulus search (intersect_dist.nearest_zone_dist — no
    broadcast index, zone covers as a cell table, doubling annuli +
    batched exact boundary-distance scoring).  Every
    point is strictly inside one zone, so the search resolves in round
    one with the containment bound — the shape of a national
    point-to-tract assignment.  (The far-outside multi-round search is
    oracle-checked at pages_nearest_zone and path-parity-tested in
    pytest; running it against 10⁵ zones at driver-gate scale would
    spend minutes in sequential annulus rounds by design.)
    Float-parity: zone boundaries sit on a 0.21-unit lattice anchored
    at (-130.0005, 19.9995) while page coords are (10k+5.5)/1000
    offsets from (-130, 20) — 20k+11 is odd and 420m is even, so the
    exact gap to any boundary is ≥ 5e-4 and double rounding can never
    flip a containment; the floor oracle is exactly the geometric
    assignment.  dist is dropped from the output (engine-order sqrt
    differences), the same contract pages_nearest_zone pins."""
    from osm_chordify_spark.operators import intersect_dist as _ID

    NGX, NGY, W = 572, 286, 0.21
    X0, Y0 = -130.0005, 19.9995
    zsp = spark.range(0, NGX * NGY, 1, 32).select(
        (F.col("id") % NGX).alias("i"),
        ((F.col("id") - F.col("id") % NGX) / NGX).cast("long").alias("j"),
    )

    @F.pandas_udf("binary")
    def mk_rect(i: pd.Series, j: pd.Series) -> pd.Series:
        out = []
        for ii, jj in zip(i, j):
            x0, y0 = X0 + ii * W, Y0 + jj * W
            out.append(_G.wkb_polygon(
                [[[x0, y0], [x0 + W, y0], [x0 + W, y0 + W], [x0, y0 + W]]]
            ))
        return pd.Series(out)

    zdf = zsp.select(
        F.concat(F.lit("N"), F.col("j"), F.lit("_"), F.col("i")).alias("zone_id"),
        mk_rect("i", "j").alias("geometry"),
    )
    pts = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://example.org/page/"), F.col("doc_id")).alias("url"),
        P.lon_col().alias("x"),
        P.lat_col().alias("y"),
    )
    out = _ID.nearest_zone_dist(
        pts, zdf, zone_id_col="zone_id", point_id="url",
        point_xy=("x", "y"), index_res=9, max_ring=32,
    )
    return out.select("url", "zone_id")


@register(
    "knn_true_segment_match",
    oracle="""
with pts as (
  select c_custkey as point_id,
         ((c_custkey * 3) % 100) / 1e1 + 5e-2 as x,
         ((c_custkey * 7) % 100) / 1e1 + 5e-2 as y
  from customer
), segs as (
  select p_partkey as seg_id,
         ((p_partkey * 11) % 100) / 1e1 + 5e-2 as ax,
         ((p_partkey * 17) % 100) / 1e1 + 5e-2 as ay,
         ((p_partkey * 11) % 100) / 1e1 + 5e-2 + ((p_partkey * 7) % 5) / 1e1 + 1e-1 as bx,
         ((p_partkey * 17) % 100) / 1e1 + 5e-2 + ((p_partkey * 13) % 7) / 1e1 as by
  from part
), d as (
  select p.point_id, s.seg_id,
         sqrt(power(p.x - (s.ax + least(greatest(((p.x - s.ax) * (s.bx - s.ax) + (p.y - s.ay) * (s.by - s.ay)) / greatest((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay), 1e-300), 0e0), 1e0) * (s.bx - s.ax)), 2)
            + power(p.y - (s.ay + least(greatest(((p.x - s.ax) * (s.bx - s.ax) + (p.y - s.ay) * (s.by - s.ay)) / greatest((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay), 1e-300), 0e0), 1e0) * (s.by - s.ay)), 2)) as dist
  from pts p cross join segs s
)
select point_id, seg_id, rank from (
  select point_id, seg_id,
         row_number() over (partition by point_id order by dist, seg_id) as rank
  from d
) where rank <= 2
""",
)
def knn_true_segment_match(spark, sf_dir):
    """kNN to TRUE segments (clamped point-to-segment distance), not
    midpoints — a long segment whose body passes near the point ranks
    correctly (operators/knn.py knn_match_segments: segments index
    under every bbox cover cell, candidates dedupe per pair, same
    ring-search bound).  Oracle: the O(n·m) brute force with the
    identical clamped-projection expression."""
    from osm_chordify_spark.operators.knn import knn_match_segments

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        F.expr("((c_custkey * 3) % 100) / 1e1 + 5e-2").alias("x"),
        F.expr("((c_custkey * 7) % 100) / 1e1 + 5e-2").alias("y"),
    )
    segs = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("seg_id"),
        F.expr("((p_partkey * 11) % 100) / 1e1 + 5e-2").alias("ax"),
        F.expr("((p_partkey * 17) % 100) / 1e1 + 5e-2").alias("ay"),
        F.expr("((p_partkey * 11) % 100) / 1e1 + 5e-2 + ((p_partkey * 7) % 5) / 1e1 + 1e-1").alias("bx"),
        F.expr("((p_partkey * 17) % 100) / 1e1 + 5e-2 + ((p_partkey * 13) % 7) / 1e1").alias("by"),
    )
    out = knn_match_segments(pts, segs, k=2, res=10)
    return out.select("point_id", "seg_id", "rank")


@register(
    "decontaminate_vs_eval",
    oracle=_GRAMS_SQL
    + """
, evg as (
  select distinct unnest(grams) as gram from g where doc_id % 97 = 0
)
select t.doc_id, count(*) as shared_grams
from (select doc_id, unnest(grams) as gram from g where doc_id % 97 <> 0) t
join evg using (gram)
group by t.doc_id
""",
)
def decontaminate_vs_eval(spark, sf_dir):
    """Benchmark decontamination (operators/dedup.contamination_flags):
    docs with doc_id % 97 == 0 play the eval set; every train doc
    sharing a word bigram with it is flagged with its shared-gram
    count.  Eval grams broadcast; the only shuffle is the per-doc
    count."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    out = _DD.contamination_flags(tr, ev, n=2)
    return out.select(F.col("id").alias("doc_id"), "shared_grams")


@register(
    "hash_split_counts",
    oracle="""
with b as (
  select doc_id,
         cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 2)) as int) as bucket
  from documents
)
select case when bucket < 204 then 'train'
            when bucket < 230 then 'val'
            else 'test' end as split,
       count(*) as n,
       min(doc_id) as min_id,
       max(doc_id) as max_id
from b group by 1
""",
)
def hash_split_counts(spark, sf_dir):
    """Deterministic, engine-portable train/val/test split
    (textops.hash_split): md5-prefix buckets — the oracle reproduces
    the EXACT assignment in DuckDB, proving the split is identical
    across engines (the property random splits lack)."""
    from osm_chordify_spark.operators.textops import hash_split

    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id", {"train": 204, "val": 26, "test": 26})
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "repetition_filter",
    oracle=r"""
with f as (
  select doc_id,
         list_filter(string_split(text, chr(10)), l -> trim(l) <> '') as lines,
         list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w <> '') as words
  from documents
)
select doc_id,
       round(case when len(lines) > 0
             then 1e0 - cast(len(list_distinct(lines)) as double) / len(lines)
             else 0e0 end, 4) as dup_line_frac,
       round(case when len(words) > 0
             then 1e0 - cast(len(list_distinct(words)) as double) / len(words)
             else 0e0 end, 4) as dup_word_frac
from f
""",
)
def repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality signals (textops
    repetition_features): duplicate-line and duplicate-token fractions,
    linear per document, pure codegen."""
    from osm_chordify_spark.operators.textops import repetition_features

    docs = _t(spark, sf_dir, "documents")
    feats = repetition_features(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(feats["dup_line_frac"], 4).alias("dup_line_frac"),
        F.round(feats["dup_word_frac"], 4).alias("dup_word_frac"),
    )


@register(
    "domain_cap_counts",
    oracle="""
with pages as (
  select 'https://site-' || cast(doc_id % 7 as varchar)
         || '.example.org/page/' || cast(doc_id as varchar) as url,
         doc_id
  from documents
), ranked as (
  select url, doc_id,
         row_number() over (
           partition by regexp_extract(url, '^[a-z]+://([^/]+)', 1)
           order by url
         ) as rn
  from pages
)
select regexp_extract(url, '^[a-z]+://([^/]+)', 1) as host,
       count(*) as kept,
       min(doc_id) as min_doc
from ranked where rn <= 100 group by 1
""",
)
def domain_cap_counts(spark, sf_dir):
    """Per-domain capping (textops.cap_per_domain) — the CommonCrawl
    domain-balancing staple: 7 synthetic hosts, at most 100 pages each,
    deterministic by url.  Oracle replays the identical window."""
    from osm_chordify_spark.operators.textops import cap_per_domain

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://site-"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/page/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        "doc_id",
    )
    capped = cap_per_domain(docs, max_per_domain=100)
    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
    return capped.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("kept"), F.min("doc_id").alias("min_doc")
    )


@register(
    "boilerplate_paragraph_removal",
    oracle="""
with pages as (
  select doc_id,
         text || chr(10) || chr(10) || 'copyright footer all rights reserved'
         || case when doc_id % 3 = 0
                 then chr(10) || chr(10) || 'subscribe to our newsletter'
                 else '' end as text
  from documents
), paras as (
  select doc_id, u.p, u.pos
  from pages,
       lateral (select unnest(string_split(text, chr(10) || chr(10))) as p,
                       generate_subscripts(string_split(text, chr(10) || chr(10)), 1) as pos) u
), freq as (
  select p from paras where trim(p) <> ''
  group by p having count(distinct doc_id) > 2
)
select d.doc_id,
       coalesce((select string_agg(p2.p, chr(10) || chr(10) order by p2.pos)
                 from paras p2
                 where p2.doc_id = d.doc_id
                   and p2.p not in (select p from freq)), '') as text
from documents d
""",
)
def boilerplate_paragraph_removal(spark, sf_dir):
    """Cross-document boilerplate removal (dedup.
    remove_boilerplate_paragraphs): every page carries an injected
    common footer (and a third of them a second one) — paragraphs in
    > 2 distinct documents are dropped everywhere, the unique body
    survives, and survivors rejoin in order.  The oracle replays the
    identical frequency filter + ordered re-join."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n\ncopyright footer all rights reserved"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\n\nsubscribe to our newsletter"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return _DD.remove_boilerplate_paragraphs(docs, max_docs_per_paragraph=2)


@register(
    "paragraph_dedup_first",
    oracle="""
with pages as (
  select doc_id,
         text || chr(10) || chr(10) || 'shared quote block '
         || cast(doc_id % 5 as varchar)
         || case when doc_id % 4 = 0 then chr(10) || chr(10) || ' ' else '' end
         as text
  from documents
), paras as (
  select doc_id, u.p, u.pos
  from pages,
       lateral (select unnest(string_split(text, chr(10) || chr(10))) as p,
                       generate_subscripts(string_split(text, chr(10) || chr(10)), 1) as pos) u
), w1 as (
  select p, min(doc_id) as wid from paras where trim(p) <> '' group by p
), w2 as (
  select paras.p, w1.wid, min(paras.pos) as wpos
  from paras join w1 on paras.p = w1.p and paras.doc_id = w1.wid
  group by paras.p, w1.wid
), kept as (
  select paras.doc_id, paras.pos, paras.p
  from paras left join w2 on paras.p = w2.p
  where w2.p is null or (paras.doc_id = w2.wid and paras.pos = w2.wpos)
)
select d.doc_id,
       coalesce((select string_agg(k.p, chr(10) || chr(10) order by k.pos)
                 from kept k where k.doc_id = d.doc_id), '') as text
from documents d
""",
)
def paragraph_dedup_first(spark, sf_dir):
    """CCNet-style corpus-wide paragraph dedup (dedup.dedup_paragraphs):
    every page carries an injected quote block shared by doc_id % 5 —
    only the lexicographically-first (doc_id, pos) copy of each
    non-blank paragraph survives, every later copy is dropped, and a
    planted whitespace-only paragraph (doc_id % 4 = 0) proves blanks
    are structural and never dedup.  The oracle replays the
    first-occurrence rule with a two-level min (doc, then pos)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n\nshared quote block "),
            (F.col("doc_id") % 5).cast("string"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("\n\n ")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return _DD.dedup_paragraphs(docs)


@register(
    "corpus_mix_sample",
    oracle="""
with docs as (
  select doc_id,
         case when doc_id % 7 = 0 then 'books'
              when doc_id % 7 in (1, 2) then 'web'
              else 'crawl' end as tier
  from documents
), kept as (
  select doc_id, tier from docs
  where substr(md5(cast(doc_id as varchar) || '|' || 'mix-v1'), 1, 6)
        < case tier when 'books' then 'g'
                    when 'web' then '59999a'
                    else '11eb85' end
)
select tier,
       count(*) as kept_docs,
       min(doc_id) as min_doc,
       cast(sum(doc_id) as bigint) as sum_doc_id
from kept group by tier
""",
)
def corpus_mix_sample(spark, sf_dir):
    """Deterministic corpus-mixing sampler (textops.
    stratified_hash_sample): pages are assigned mixture tiers (books /
    web / crawl by doc_id % 7) and sampled at 100% / 35% / 7% by an
    md5-threshold membership test — a pure function of (key, salt), so
    the oracle's SQL replay of the same md5 comparison keeps EXACTLY
    the same rows (reproducibility across engines is the operator's
    contract, and this gate is the proof)."""
    from osm_chordify_spark.operators.textops import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit("books"))
        .when((F.col("doc_id") % 7).isin(1, 2), F.lit("web"))
        .otherwise(F.lit("crawl"))
        .alias("tier"),
    )
    kept = stratified_hash_sample(
        docs, "tier", {"books": 1.0, "web": 0.35, "crawl": 0.07}, "doc_id"
    )
    return kept.groupBy("tier").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.min("doc_id").alias("min_doc"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
    )


@register("bpe_train_merges")
def bpe_train_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (bpe.train_bpe): one corpus
    word-count pass, then 8 merge rounds over the O(vocabulary) word
    table — pair counts and merge application all JVM-side, one scalar
    (the winning pair) to the driver per round.  Iterative and
    inherently non-SQL-expressible, so rows-only here; exact parity
    with a pure-Python Sennrich reference is pinned in
    tests/test_bpe.py."""
    from osm_chordify_spark.operators import bpe as B

    docs = _t(spark, sf_dir, "documents").select("text")
    wf = B.word_frequencies(docs, top_words=2000)
    merges = B.train_bpe(wf, 8)
    rows = [
        (i, left, right, left + right) for i, (left, right) in enumerate(merges)
    ]
    return spark.createDataFrame(rows, "rank int, left string, right string, merged string")


@register(
    "url_canonicalization",
    oracle="""
with raw as (
  select doc_id,
         'HTTPS://Site-' || cast(doc_id % 5 as varchar) || '.Example.org'
         || case when doc_id % 4 = 0 then ':443' else '' end
         || '/Page/' || cast(doc_id as varchar)
         || case when doc_id % 3 = 0 then '/' else '' end
         || case when doc_id % 2 = 0 then '?b=' || cast(doc_id % 7 as varchar) || '&a=1'
                 else '' end
         || case when doc_id % 6 = 0 then '#frag' else '' end as url
  from documents
), c as (
  select doc_id,
         regexp_replace(url, '#.*$', '') as u
  from raw
), parts as (
  select doc_id,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) as scheme,
         lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) as host0,
         regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+', '') as rest
  from c
), norm as (
  select doc_id, scheme,
         case when scheme = 'https' then regexp_replace(host0, ':443$', '')
              when scheme = 'http' then regexp_replace(host0, ':80$', '')
              else host0 end as host,
         regexp_extract(rest, '^([^?]*)', 1) as raw_path,
         regexp_extract(rest, '\\?(.*)$', 1) as query
  from parts
)
select doc_id,
       scheme || '://' || host
       || case when raw_path = '' then '/'
               when raw_path <> '/' then regexp_replace(raw_path, '/$', '')
               else raw_path end
       || case when query <> ''
               then '?' || list_aggr(list_sort(string_split(query, '&')), 'string_agg', '&')
               else '' end as canonical_url
from norm
""",
)
def url_canonicalization(spark, sf_dir):
    """Crawl-dedup URL canonicalization (textops.canonical_url): mixed
    case, default ports, trailing slashes, unsorted query params and
    fragments are synthesized onto the page urls; Spark's codegen
    canonicalizer must agree with the SQL normalization step for step."""
    from osm_chordify_spark.operators.textops import canonical_url

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://Site-"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".Example.org"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/Page/"), F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("?b="), (F.col("doc_id") % 7).cast("string"), F.lit("&a=1")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return docs.select("doc_id", canonical_url(F.col("url")).alias("canonical_url"))


# ---------------------------------------------------------------------------
# web link graph + host PageRank (beyond-reference: Common-Crawl-style
# host ranking as a training-data quality signal).  Fixed-point bigint
# micro-ranks make the iteration order-independent and hash-exact
# across engines — see operators/linkgraph.py.

_PAGERANK_ITER = """
, c{i} as (
  select e.dst_host as host,
         cast(sum(cast(floor((r.r * e.w) / o.od) as bigint)) as bigint) as c
  from edges e
  join r{prev} r on r.host = e.src_host
  join outdeg o on o.src_host = e.src_host
  group by e.dst_host
), r{i} as (
  select nd.host,
         cast(150000000000 + cast(floor((coalesce(c{i}.c, 0) * 17) / 2e1)
              as bigint) as bigint) as r
  from nodes nd left join c{i} on c{i}.host = nd.host
)"""

_PAGERANK_ORACLE = (
    """
with n as (select count(*) as c from documents),
t as (
  select doc_id, (doc_id * 7 + 1) % (select c from n) as tgt from documents
  union all
  select doc_id, (doc_id * 13 + 5) % (select c from n) from documents
  union all
  select doc_id, (doc_id * 31 + 11) % (select c from n) from documents
),
links as (
  select 'h' || cast(doc_id % 50 as varchar) || '.example.org' as src_host,
         'h' || cast(tgt % 50 as varchar) || '.example.org' as dst_host
  from t
),
edges as (
  select src_host, dst_host, cast(count(*) as bigint) as w
  from links group by src_host, dst_host
),
nodes as (
  select src_host as host from edges union select dst_host from edges
),
outdeg as (
  select src_host, cast(sum(w) as bigint) as od from edges group by src_host
),
r0 as (select host, cast(1000000000000 as bigint) as r from nodes)"""
    + "".join(_PAGERANK_ITER.format(i=i, prev=i - 1) for i in (1, 2, 3))
    + """
select nd.host as host, r3.r as rank_micro,
       cast(coalesce(o.od, 0) as bigint) as out_weight
from nodes nd
join r3 on r3.host = nd.host
left join outdeg o on o.src_host = nd.host
"""
)


@register("host_link_pagerank", oracle=_PAGERANK_ORACLE)
def host_link_pagerank(spark, sf_dir):
    """Host link graph + 3-iteration fixed-point PageRank, end to end:
    html pages (with three deterministic anchor links each, built by
    pure JVM concat) -> regexp anchor extraction -> host parsing ->
    edge aggregation -> bigint micro-rank iteration.  The oracle
    replays the identical integer arithmetic in unrolled SQL CTEs, so
    the comparison is exact (no float rounding anywhere)."""
    from osm_chordify_spark.operators import linkgraph as LG

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()  # scalar only: sizes the deterministic link targets

    def tgt(a, b):
        return (F.col("doc_id") * a + b) % F.lit(n)

    anchors = [
        F.concat(
            F.lit('<a href="https://h'),
            (tgt(a, b) % 50).cast("string"),
            F.lit(".example.org/page/"),
            tgt(a, b).cast("string"),
            F.lit('">t</a>'),
        )
        for a, b in ((7, 1), (13, 5), (31, 11))
    ]
    pages = docs.select(
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.org/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("<html><body><p>x</p>"), *anchors, F.lit("</body></html>")).alias(
            "html"
        ),
    )
    return LG.host_pagerank_from_pages(pages, iterations=3)


# ---------------------------------------------------------------------------
# data layout: space-filling-curve codes (SURVEY §2 scan-pruning story)

def _zorder_oracle() -> str:
    from osm_chordify_spark.functions.curves import morton_from_cell_sql

    return f"""
with c as (
  select doc_id, {cell_sql(P.LON_SQL, P.LAT_SQL, 10)} as cell
  from documents
), z as (
  select doc_id, cell, {morton_from_cell_sql('cell')} as zorder from c
)
select cast(zorder >> 12 as bigint) as z_bucket,
       cast(count(*) as bigint) as n_docs,
       cast(min(zorder) as bigint) as z_lo,
       cast(max(zorder) as bigint) as z_hi,
       cast(count(distinct cell) as bigint) as n_cells
from z group by 1
"""


def _register_zorder():
    @register("zorder_cluster_codes", oracle=_zorder_oracle())
    def zorder_cluster_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Z-order (Morton) layout codes over the crawled-pages point set.

        The reference keeps its tile table sorted by packed cell id
        (row-major x-stripes); at 100 TB that layout makes any 2-D
        window touch files across the whole table.  The Spark-first
        answer is the lakehouse Z-ORDER trick: interleave the cell's
        ix/iy bits (`functions/curves.py`, pure bigint shift/mask rounds
        — whole-stage codegen, replayed verbatim by the DuckDB oracle)
        and range-partition on the code (`sources/layout.write_clustered`),
        so every parquet file covers one tight z-range and footer
        min/max stats prune the rest.  The gate checks the CODES (and
        the per-z-bucket range structure the pruning relies on);
        file-layout behavior is pinned in tests/test_layout.py.
        """
        from osm_chordify_spark.sources.layout import with_morton

        pts = _t(spark, sf_dir, "documents").select(
            "doc_id", P.lon_col().alias("lon"), P.lat_col().alias("lat")
        )
        z = with_morton(pts, "lon", "lat", 10)
        from osm_chordify_spark.functions.cells import cell_expr

        z = z.withColumn("cell", cell_expr(F.col("lon"), F.col("lat"), 10))
        return z.groupBy(
            F.shiftright("zorder", 12).cast("long").alias("z_bucket")
        ).agg(
            F.count("*").alias("n_docs"),
            F.min("zorder").alias("z_lo"),
            F.max("zorder").alias("z_hi"),
            F.countDistinct("cell").alias("n_cells"),
        )


_register_zorder()


def _pruned_scan_oracle() -> str:
    return f"""
with c as (
  select doc_id, {P.LON_SQL} as lon, {P.LAT_SQL} as lat from documents
)
select {cell_sql('lon', 'lat', 8)} as cell_r8,
       cast(count(*) as bigint) as n_docs,
       cast(min(doc_id) as bigint) as min_doc,
       cast(max(doc_id) as bigint) as max_doc
from c
where lon >= -123e0 and lon <= -121e0 and lat >= 36e0 and lat <= 39e0
group by 1
"""


def _register_pruned_scan():
    @register("clustered_pruned_scan", oracle=_pruned_scan_oracle())
    def clustered_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Manifest-pruned scan over a Z-clustered table.

        The pages point set is written once as a Z-ordered parquet
        table with an Iceberg-manifest-style per-file stats index
        (`sources/layout.write_zone_manifest`, built in one distributed
        input_file_name() pass), then a bbox window is read back
        through `read_clustered`, which drops non-overlapping files
        from the scan BEFORE Spark lists them.  Pruning is
        performance-only: the exact bbox filter is also pushed to the
        scan, so the per-cell rollup must match a plain filtered
        aggregate — which is exactly what the DuckDB oracle computes,
        independent of file boundaries."""
        import os
        import tempfile

        from osm_chordify_spark.functions.cells import cell_expr
        from osm_chordify_spark.sources.layout import (
            read_clustered,
            write_clustered,
        )

        pts = _t(spark, sf_dir, "documents").select(
            "doc_id", P.lon_col().alias("lon"), P.lat_col().alias("lat")
        )
        path = os.path.join(tempfile.gettempdir(), "spark_graft_zcluster")
        write_clustered(pts, path, "lon", "lat", res=10, n_files=16)
        win = read_clustered(
            spark, path, (-123.0, -121.0), (36.0, 39.0)
        )
        return win.groupBy(
            cell_expr(F.col("lon"), F.col("lat"), 8).alias("cell_r8")
        ).agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )


_register_pruned_scan()


def _register_bucketed_join():
    @register(
        "bucketed_colocated_join",
        oracle="""
select o_orderstatus,
       cast(sum(l_quantity) as double) as sum_qty,
       count(*) as n_items
from lineitem join orders on l_orderkey = o_orderkey
group by o_orderstatus
""",
    )
    def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Bucketed-layout co-located join (`sources/layout.write_bucketed`):
        both fact tables are written bucketed by the join key into the
        same bucket count, so the join compiles with NO Exchange on
        either side — bucket i reads against bucket i directly (the
        plan's only shuffle is the final 3-row aggregate; pinned in
        test_plan_quality).  At lake scale this converts the biggest
        fact-to-fact join cost from per-query to write-once.  Layout is
        performance-only: results must equal the plain join, which is
        what the oracle computes."""
        import os
        import tempfile

        from osm_chordify_spark.sources.layout import write_bucketed

        base = os.path.join(tempfile.gettempdir(), "spark_graft_bucketed")
        orders = _t(spark, sf_dir, "orders").withColumnRenamed(
            "o_orderkey", "okey"
        )
        li = _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("okey"), "l_quantity"
        )
        write_bucketed(orders, "bkt_orders", f"{base}/orders", "okey", 8)
        write_bucketed(li, "bkt_lineitem", f"{base}/lineitem", "okey", 8)
        j = spark.table("bkt_lineitem").join(
            spark.table("bkt_orders").hint("merge"), "okey"
        )
        return j.groupBy("o_orderstatus").agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )


_register_bucketed_join()


def _register_triangles():
    @register(
        "graph_triangle_participation",
        oracle="""
with raw as (
  select l_orderkey % 4001 as u0,
         (l_orderkey * 131 + l_linenumber) % 4001 as v0
  from lineitem
), und as (
  select distinct least(u0, v0) as u, greatest(u0, v0) as v
  from raw where u0 != v0
), deg as (
  select n, count(*)::bigint as deg
  from (select u as n from und union all select v as n from und)
  group by 1
), oriented as (
  select case when (d1.deg, e.u) < (d2.deg, e.v) then e.u else e.v end as a,
         case when (d1.deg, e.u) < (d2.deg, e.v) then e.v else e.u end as b
  from und e
  join deg d1 on d1.n = e.u
  join deg d2 on d2.n = e.v
), tri as (
  select e1.a as node_a, e1.b as node_b, e2.b as node_c
  from oriented e1
  join oriented e2 on e2.a = e1.b
  join oriented e3 on e3.a = e1.a and e3.b = e2.b
)
select node, cast(count(*) as bigint) as n_triangles
from (
  select node_a as node from tri
  union all select node_b from tri
  union all select node_c from tri
) group by node
""",
    )
    def graph_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-node triangle participation on a deterministic synthetic
        graph derived from lineitem keys (operators/linkgraph.triangles).
        The degree ORIENTATION is the scale story: every undirected edge
        points from its (degree, node)-smaller endpoint to the larger,
        bounding the wedge join's per-node fan-out by out-deg² ~ O(m)
        total even on web-scale hub skew; each triangle is produced
        exactly once, everything is equi-joins."""
        from osm_chordify_spark.operators.linkgraph import (
            triangle_participation,
        )

        li = _t(spark, sf_dir, "lineitem").select(
            (F.col("l_orderkey") % 4001).alias("src_host"),
            ((F.col("l_orderkey") * 131 + F.col("l_linenumber")) % 4001).alias(
                "dst_host"
            ),
        )
        return triangle_participation(li).select(
            F.col("node").cast("bigint").alias("node"), "n_triangles"
        )


_register_triangles()


# ---------------------------------------------------------------------------
# Driver-window curation (VERDICT r4 item 1b): the driver's CORRECTNESS
# artifact snapshots the FIRST 50 registered queries.  Order the
# registry so that window carries the highest-signal set — the flagship
# chain, every operator touched this round (WARC multi-archive,
# shapefile many-file, exact-substring dedup, the escalated nearest
# search, the Z-order/bucketed layouts, the HLL/BM25/k-means/SemDeDup
# family), and the 100k+-zone scale rows — while stable TPC-H-ish rows
# park outside (still pytest-gated by test_driver_contract, which runs
# ALL queries).

_WINDOW_FIRST = [
    "pages_zone_pip", "pages_cell_assign", "pages_zone_counts",
    "pages_text_extraction_parity", "tpch_q1_pricing_summary",
    "orders_customer_match_rate", "zone_intersect_lines",
    "zone_intersect_lines_dist", "zone_intersect_100k_zones_dist",
    "shapefile_zone_intersect", "shapefile_many_zone_intersect",
    "zones_overlay_100k_x_100k_dist", "warc_crawl_extract",
    "warc_multi_crawl_pages", "zone_intersect_polygons",
    "spatial_left_join",
    "spatial_left_join_dist", "chordify_contraction", "graph_components",
    "kmv_distinct_users_per_event_type", "knn_segment_match", "dedup_exact",
    "ngram_jaccard_pairs", "bigram_rarity_profile", "exact_substring_dedup",
    "minhash_lsh_dedup", "paragraph_dedup_first", "text_analysis",
    "quality_scores", "ann_cosine_topk", "ann_ivf_topk", "corpus_mix_sample",
    "cms_user_frequencies",
    "hll_distinct_users_per_event_type", "bm25_topk_search",
    "kmeans_embedding_clusters", "semdedup_embeddings",
    "host_link_pagerank", "graph_triangle_participation",
    "media_wav_features", "embedding_cosine_dedup",
    "histogram_value_quantiles", "media_png_decode",
    "pages_nearest_zone", "pages_nearest_zone_163k_dist",
    "raster_zonal_stats_100k_dist", "knn_true_segment_match",
    "zorder_cluster_codes", "clustered_pruned_scan",
    "bucketed_colocated_join",
]


def _curate_window():
    global QUERIES
    missing = [n for n in _WINDOW_FIRST if n not in QUERIES]
    if missing:
        raise RuntimeError(f"window names not registered: {missing}")
    rest = [n for n in QUERIES if n not in _WINDOW_FIRST]
    QUERIES = {n: QUERIES[n] for n in [*_WINDOW_FIRST, *rest]}


_curate_window()
