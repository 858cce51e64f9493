"""Zone-intersection operators — the reference's flagship API, Spark-first.

Reimplements the semantics of ``intersect_road_network_with_zones``
(reference: src/osm_chordify/osm/intersect.py:586-884),
``intersect_road_polygons_with_zones`` (:961-1230),
``intersect_zones_with_zones`` (:1557-1611 overlay variant and
:1233-1494 cascade variant), and ``spatial_left_join_with_zones``
(:1497-1554) as single-pass map-side DataFrame transforms:

* zones (small side — the reference's county gate assumes ≤100 polygons,
  intersect.py:440-444) become a broadcast cell→candidate index;
* the fact side (edges/pages) is scanned once inside an Arrow-batched
  ``mapInPandas`` kernel; **no shuffle anywhere** — Catalyst sees
  Scan → MapInPandas → (optional union for void rows);
* per Arrow batch, one vectorized index probe
  (``ZoneIndex.candidates_for_bboxes`` over the batch's edge bboxes)
  builds the same (edge, zone, contained) pair frame the distributed
  path (``operators.intersect_dist``) gets from its cell equi-join, and
  the pair frame goes to the pair kernel both transports share
  (``lines_kernel``, ``polygons_kernel``, ``touch_kernel``; exact clips
  in ``geom_batch.clip_pairs_*``);
* the contained fast path (reference intersect.py:703-733: proportion
  1.0 without exact clipping) generalizes to "every covering cell of
  the edge is a fully-inside cell of the zone".

Output contracts reproduced exactly (the row-for-row parity surface):
* metric columns and label prefixes per _line/_polygon/_cascade metric
  names (reference intersect.py:256-306);
* edge/zone attribute prefixing with collision avoidance
  (reference intersect.py:219-249: ``zone_X`` → ``zone2_X`` → ...);
* rounding: lengths/areas 2 dp; proportion computed FROM the rounded
  values, then 4 dp (reference intersect.py:428-435);
* zero-length/degenerate intersections are dropped — boundary touches
  produce no row (reference intersect.py:415-417, LINE_GEOMETRY_TYPES);
* void rows: zones with a polygon whose bbox overlaps the edge table's
  bbox but that have no pieces yield one row each with NULL metrics and
  zone attrs (reference intersect.py:347-382).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from osm_chordify_spark import cellindex as ci
from osm_chordify_spark import geom as G
from osm_chordify_spark import geom_batch as GB
from osm_chordify_spark.functions.skew import fan_out
from osm_chordify_spark.operators.zoneindex import ZoneIndex

# -- metric / column naming contracts ---------------------------------------

_RESERVED_METRICS = {
    "zone_edge_proportion",
    "edge_link_length_m",
    "zone_link_length_m",
    "edge_surface_m2",
    "zone_surface_m2",
    "zone_piece_proportion",
    "piece_link_length_m",
    "zone_piece_length_m",
    "piece_surface_m2",
}


def edge_output_name(col: str) -> str:
    """Edge attr output name; already-prefixed names pass through
    (reference intersect.py:219-233)."""
    if col.startswith(("edge_", "zone_")) or col in _RESERVED_METRICS:
        return col
    return f"edge_{col}"


def zone_output_name(col: str, existing: set, prefix: str = "zone") -> str:
    """Zone attr output name with collision bumping zone_X → zone2_X →
    zone3_X … (reference intersect.py:236-249)."""
    if prefix not in {None, "", "zone"} and col.startswith(f"{prefix}_") and col not in existing:
        return col
    cand = f"{prefix}_{col}"
    if cand not in existing:
        return cand
    cand = f"{prefix}2_{col}"
    if cand not in existing:
        return cand
    n = 3
    while f"{prefix}{n}_{col}" in existing:
        n += 1
    return f"{prefix}{n}_{col}"


def _label(zone_label):
    return zone_label.strip().lower() if zone_label else None


def _metric_names(base: dict, zone_label) -> dict:
    """``base`` metric names, each prefixed ``<label>_`` when a zone
    label is given."""
    p = _label(zone_label)
    return {k: v if p is None else f"{p}_{v}" for k, v in base.items()}


def line_metric_names(zone_label=None) -> dict:
    return _metric_names({"proportion": "zone_edge_proportion",
                          "edge_length": "edge_link_length_m",
                          "zone_length": "zone_link_length_m"}, zone_label)


def polygon_metric_names(zone_label=None) -> dict:
    return {**line_metric_names(zone_label),
            **_metric_names({"edge_surface": "edge_surface_m2",
                             "zone_surface": "zone_surface_m2"}, zone_label)}


def cascade_metric_names(zone_label=None) -> dict:
    return _metric_names({"proportion": "zone_piece_proportion",
                          "piece_length": "piece_link_length_m",
                          "zone_length": "zone_piece_length_m",
                          "piece_surface": "piece_surface_m2",
                          "zone_surface": "zone_surface_m2"}, zone_label)


# -- zones: local representation ---------------------------------------------


class Zones:
    """Small polygon table held driver-side and broadcast.

    attrs: pandas DataFrame (one row per zone, no geometry column);
    geoms: list of multipolygon ring-lists aligned with attrs rows."""

    def __init__(self, attrs: pd.DataFrame, geoms: list, world=ci.WORLD):
        assert len(attrs) == len(geoms)
        self.attrs = attrs.reset_index(drop=True)
        self.geoms = geoms
        self.world = world  # cell-index bounds: lon/lat or a meter plane

    @staticmethod
    def from_records(records, geometry_key="geometry", world=ci.WORLD):
        """records: iterable of dicts with WKB bytes or ring-lists under
        ``geometry_key`` plus arbitrary attribute keys.  ``world`` sets
        the cell-index bounds — pass the projected-plane extent when the
        zones live in meters (functions.projection)."""
        rows, geoms = [], []
        for rec in records:
            rec = dict(rec)
            g = rec.pop(geometry_key)
            if isinstance(g, (bytes, bytearray)):
                geoms.append(G.geometry_polygons(bytes(g)))
            elif isinstance(g, list) and g and isinstance(g[0], list):
                geoms.append(g)  # already [rings, rings, ...]
            else:
                geoms.append([g])  # single polygon rings
            rows.append(rec)
        return Zones(pd.DataFrame(rows), geoms, world=world)

    def index(self, res: int = 9) -> ZoneIndex:
        return ZoneIndex.build(
            [(i, polys) for i, polys in enumerate(self.geoms)], res=res,
            world=self.world,
        )


# -- schema assembly ----------------------------------------------------------


def _assemble_schema(edges_schema, zone_fields, metric_names, zone_label,
                     keep_geometry, extra_metrics=()):
    """Output schema + rename maps from edge schema and zone attr
    StructFields — the single naming authority shared by the broadcast
    and distributed paths (so their outputs are schema-identical)."""
    cols: list[StructField] = []
    ordered = [metric_names["proportion"], metric_names["edge_length"],
               metric_names["zone_length"], *extra_metrics]
    for m in ordered:
        cols.append(StructField(m, DoubleType(), True))
    if keep_geometry:
        cols.append(StructField("geometry", BinaryType(), True))
    existing = {c.name for c in cols}
    edge_renames = {}
    for f in edges_schema.fields:
        if f.name == "geometry":
            continue
        out = edge_output_name(f.name)
        if out in existing:
            # collision with a metric/reserved name (e.g. an input column
            # literally named zone_edge_proportion in a chained
            # intersection): the reference assigns metrics last so the
            # fresh metric wins — drop the stale edge attr instead of
            # letting it overwrite the metric in compute().
            continue
        edge_renames[f.name] = out
        cols.append(StructField(out, f.dataType, True))
        existing.add(out)
    zone_renames = {}
    for zf in zone_fields:
        out = zone_output_name(zf.name, existing, prefix=_label(zone_label) or "zone")
        zone_renames[zf.name] = out
        cols.append(StructField(out, zf.dataType, True))
        existing.add(out)
    return StructType(cols), edge_renames, zone_renames, list(edge_renames)


def _zone_fields(zones: Zones) -> list:
    """StructFields of a driver-side zone table's attribute columns."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    return [
        StructField(c, from_arrow_type(pa.Schema.from_pandas(zones.attrs[[c]]).field(0).type), True)
        for c in zones.attrs.columns
    ]


def _left_join_schema(schema, zone_fields, zone_label):
    """Left-join output schema — the input columns, then the renamed zone
    attrs — and the zone renames; shared by both transports."""
    existing, renames, fields = set(schema.names), {}, list(schema.fields)
    for zf in zone_fields:
        out = zone_output_name(zf.name, existing, prefix=_label(zone_label) or "zone")
        renames[zf.name] = out
        fields.append(StructField(out, zf.dataType, True))
        existing.add(out)
    return StructType(fields), renames


def _polygon_schema(subj_schema, zone_fields, zone_label, keep_geometry,
                    cascade: bool, length_col):
    """The polygon-subject operators' output schema, zone renames, edge
    columns ((source, output name) pairs; ``length_col`` rides as
    ``__len``) and the five metric names in kernel order — proportion,
    subject length, zone length, subject surface, zone surface; shared
    by both transports."""
    m = cascade_metric_names(zone_label) if cascade else polygon_metric_names(zone_label)
    s = "piece" if cascade else "edge"
    names = (m["proportion"], m[f"{s}_length"], m["zone_length"],
             m[f"{s}_surface"], m["zone_surface"])
    schema, edge_renames, zone_renames, edge_attr_cols = _assemble_schema(
        subj_schema, zone_fields,
        dict(zip(("proportion", "edge_length", "zone_length"), names)),
        zone_label, keep_geometry, extra_metrics=names[3:],
    )
    edge_cols = [(c, edge_renames[c]) for c in edge_attr_cols]
    if length_col and length_col in subj_schema.names:
        edge_cols.append((length_col, "__len"))
    return schema, zone_renames, edge_cols, names


# -- the pair frame and its kernels (shared by both transports) ---------------
#
# A pair frame holds one row per candidate (edge, zone) pair: ``__eid``,
# ``__zid``, ``__contained`` (the fast-path flag), ``__elen`` (the edge's
# 2-dp length, or a polygon subject's 2-dp area), ``__egeom`` (edge WKB),
# optionally ``__len`` (a polygon subject's ``length_col``) and the
# renamed output attrs.  The broadcast path builds it per Arrow batch from
# the index (``_index_pairs``); the dist path from its joins.  Kernels get
# zone polygons from ``zone_polys(pdf, rows) → (polygons, codes)``:
# ``_wkb_zones`` parses the frame's ``__zgeom`` column, ``_index_zones``
# reads the broadcast index's parsed rings.


def _parse_once(ids, geoms, parse):
    """Parse each distinct geometry of a batch once: (parsed list,
    per-row codes into it).  ``ids``/``geoms`` are aligned arrays."""
    _u, first, codes = np.unique(ids, return_index=True, return_inverse=True)
    return [parse(bytes(geoms[int(i)])) for i in first], codes


def _wkb_zones(pdf, rows):
    return _parse_once(pdf["__zid"].to_numpy()[rows], pdf["__zgeom"].to_numpy()[rows],
                       G.geometry_polygons)


def _index_zones(zone_rings):
    def zone_polys(pdf, rows):
        u, codes = np.unique(pdf["__zid"].to_numpy()[rows], return_inverse=True)
        return [zone_rings[z] for z in u], codes
    return zone_polys


def _edge_measures(geoms) -> np.ndarray:
    """(measure, x0, y0, x1, y1) rows for a batch of line or polygon
    WKBs, each parsed once.  Lines measure their length, polygon
    subjects their area; the bbox spans the line vertices or the outer
    rings.  An empty geometry measures 0 with a NaN bbox, which covers
    no cell and overlaps no zone."""
    out = np.empty((len(geoms), 5))
    for i, g in enumerate(geoms):
        kind, data = G.parse_wkb(bytes(g))
        if kind in ("polygon", "multipolygon"):
            polys = [data] if kind == "polygon" else data
            parts = [rings[0] for rings in polys if rings]
            m = sum(G.polygon_area(rings) for rings in polys if rings)
        else:
            parts = [data] if kind == "linestring" else data
            m = sum(G.polyline_length(ln) for ln in parts if len(ln))
        c = np.concatenate(parts or [np.empty((0, 2))])
        out[i] = (m, *c.min(axis=0), *c.max(axis=0)) if len(c) else (m, *[np.nan] * 4)
    return out


def _edge_bbox_batches(batches):
    for pdf in batches:
        yield pd.DataFrame(_edge_measures(pdf["geometry"])[:, 1:],
                           columns=["x0", "y0", "x1", "y1"])


def _edges_bbox(edges: DataFrame):
    """The edge table's global bbox (x0, y0, x1, y1) from one min/max
    aggregate over ``_edge_bbox_batches``; NaN for an empty table, which
    no zone bbox overlaps."""
    row = (
        edges.select("geometry")
        .mapInPandas(_edge_bbox_batches, schema="x0 double, y0 double, x1 double, y1 double")
        .agg(F.min("x0").alias("x0"), F.min("y0").alias("y0"),
             F.max("x1").alias("x1"), F.max("y1").alias("y1"))
        .collect()[0]
    )
    return tuple(np.nan if v is None else v for v in row)


def lines_kernel(names, out_names, keep_geometry, zone_polys):
    """The lines operators' pair kernel: pair frame → output rows.

    Contained pairs take the fast path (reference intersect.py:703-733:
    proportion 1.0, zone length = edge length, the whole edge as piece).
    The others are clipped in one ``geom_batch.clip_pairs_*`` call over
    the frame, each distinct edge/zone parsed once, and dropped when the
    2-dp inside length is 0 (boundary touch).  ``round_dp`` is
    ``builtins.round`` bit for bit (banker's rounding on the decimal
    repr, not np.round).  ``names``: (proportion, edge length, zone
    length) columns."""
    mp, me, mz = names

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        contained = pdf["__contained"].to_numpy()
        elen = pdf["__elen"].to_numpy(np.float64)
        egeoms = pdf["__egeom"].to_numpy()
        n = len(pdf)
        pend = np.nonzero(~contained)[0]
        zone_len = np.where(contained, elen, 0.0)
        pieces_per = []
        if len(pend):
            edge_lines, ec = _parse_once(
                pdf["__eid"].to_numpy()[pend], egeoms[pend], G.geometry_lines
            )
            zpolys, zc = zone_polys(pdf, pend)
            if keep_geometry:
                zone_len[pend], pieces_per = GB.clip_pairs_pieces(
                    edge_lines, ec, zpolys, zc
                )
            else:
                zone_len[pend] = GB.clip_pairs_totals(edge_lines, ec, zpolys, zc)
        zl = np.where(contained, elen, GB.round_dp(zone_len, 2))
        keep = np.flatnonzero(contained | (zl > 0))
        ck, ek, zk = contained[keep], elen[keep], zl[keep]
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = GB.round_dp(np.where(ek > 0, zk / ek, 0.0), 4)
        out = {mp: np.where(ck, (ek > 0).astype(np.float64), ratio), me: ek, mz: zk}
        if keep_geometry:
            pend_pos = np.zeros(n, dtype=np.int64)
            pend_pos[pend] = np.arange(len(pend))
            geov = []
            for i in keep:
                pieces = (
                    G.geometry_lines(bytes(egeoms[i])) if contained[i]
                    else pieces_per[pend_pos[i]] or []
                )
                geov.append(
                    G.wkb_linestring(pieces[0])
                    if len(pieces) == 1
                    else G.wkb_multilinestring(pieces)
                )
            out["geometry"] = geov
        return _with_base(out, pdf, keep, out_names)

    return kern


def polygons_kernel(names, out_names, keep_geometry, zone_polys):
    """The polygon-subject operators' pair kernel: area-based proportions
    (reference intersect.py:927-958; cascade :1023-1054).  proportion =
    overlap area / subject area (0 when the subject area is 0); zone
    length = ``__len`` × proportion when the frame carries ``__len``,
    else the overlap area; surfaces 2 dp.  Contained pairs keep the
    whole subject; the others sum ``geom.poly_poly_area`` over (zone
    polygon, subject polygon) and are dropped when the 2-dp overlap is 0.
    ``names``: ``_polygon_schema``'s five names."""
    mp, me, mz, m_es, m_zs = names

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        contained = pdf["__contained"].to_numpy()
        area = pdf["__elen"].to_numpy(np.float64)  # 2-dp subject areas
        egeoms = pdf["__egeom"].to_numpy()
        overlap = area.copy()
        geov = [bytes(g) for g in egeoms] if keep_geometry else None
        pend = np.nonzero(~contained)[0]
        if len(pend):
            subj, sc = _parse_once(pdf["__eid"].to_numpy()[pend], egeoms[pend],
                                   G.geometry_polygons)
            zpolys, zc = zone_polys(pdf, pend)
            for k, i in enumerate(pend):
                total, rings = 0.0, []
                for zrings in zpolys[zc[k]]:
                    for srings in subj[sc[k]]:
                        total += G.poly_poly_area(srings, zrings)
                        if keep_geometry:
                            rings.extend(G.clip_poly_general(srings, zrings))
                overlap[i] = total
                if keep_geometry:
                    geov[i] = (
                        None if not rings
                        else G.wkb_polygon([rings[0]]) if len(rings) == 1
                        else G.wkb_multipolygon([[p] for p in rings])
                    )
            overlap[pend] = GB.round_dp(overlap[pend], 2)
        keep = np.flatnonzero(contained | (overlap > 0))
        ak, ok = area[keep], overlap[keep]
        with np.errstate(divide="ignore", invalid="ignore"):
            prop = GB.round_dp(np.where(ak > 0, ok / ak, 0.0), 4)
        out = {mp: prop, me: ak, mz: ok, m_es: ak, m_zs: ok}
        if "__len" in pdf:
            full_len = pdf["__len"].to_numpy(np.float64)[keep]
            out[me], out[mz] = full_len, GB.round_dp(full_len * prop, 2)
        if keep_geometry:
            out["geometry"] = [geov[i] for i in keep]
        return _with_base(out, pdf, keep, out_names)

    return kern


def touch_kernel(geometry_kind, zone_polys):
    """The left joins' exact touch test: pair frame → its (``__eid``,
    ``__zid``) pairs whose inside length (lines) or overlap area
    (polygon subjects) is > 0."""
    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        eids, egeoms = pdf["__eid"].to_numpy(), pdf["__egeom"].to_numpy()
        zpolys, zc = zone_polys(pdf, np.arange(len(pdf)))
        if geometry_kind == "line":
            edge_lines, ec = _parse_once(eids, egeoms, G.geometry_lines)
            keep = GB.clip_pairs_totals(edge_lines, ec, zpolys, zc) > 0
        else:
            subj, sc = _parse_once(eids, egeoms, G.geometry_polygons)
            keep = np.array([
                any(G.poly_poly_area(srings, zrings) > 0
                    for zrings in zpolys[zc[i]] for srings in subj[sc[i]])
                for i in range(len(pdf))
            ], dtype=bool)
        return pdf.loc[keep, ["__eid", "__zid"]]

    return kern


def _with_base(out, pdf, keep, out_names):
    """Output frame: the computed columns ``out`` plus every other output
    column copied from the kept pair rows (edge/zone attrs, ``__zid``)."""
    base = pdf.iloc[keep].reset_index(drop=True)
    for c in out_names:
        if c not in out:
            out[c] = base[c]
    return pd.DataFrame(out, columns=out_names)


# -- the broadcast transport -----------------------------------------------------


def _index_pairs(pdf, idx: ZoneIndex):
    """One Arrow batch's pair frame from the broadcast index: ``__eid``
    is the batch row, ``__zid`` the zone ordinal."""
    geoms = pdf["geometry"].to_numpy()
    m = _edge_measures(geoms)
    row, zone, contained = idx.candidates_for_bboxes(*m[:, 1:].T)
    return pd.DataFrame({"__eid": row, "__zid": zone, "__contained": contained,
                         "__elen": GB.round_dp(m[row, 0], 2), "__egeom": geoms[row]})


def _map_index_pairs(df, index, attrs, edge_cols, kernel, schema):
    """Broadcast ``index`` and the renamed zone ``attrs`` once; per Arrow
    batch of ``df``, the pair frame plus the edge columns ``edge_cols``
    ((source, output name) pairs) and zone attrs goes to
    ``kernel(zone_polys)``."""
    sc = df.sparkSession.sparkContext
    b_index, b_attrs = sc.broadcast(index), sc.broadcast(attrs)
    src = [c for c, _ in edge_cols]
    names = [a for _, a in edge_cols]

    def compute(batches):
        idx: ZoneIndex = b_index.value
        kern = kernel(_index_zones(idx.zone_rings))
        for pdf in batches:
            pairs = _index_pairs(pdf, idx)
            if not len(pairs):
                continue
            e = pdf[src].iloc[pairs["__eid"].to_numpy()].set_axis(names, axis=1)
            z = b_attrs.value.iloc[pairs["__zid"].to_numpy()]
            yield kern(pd.concat([pairs, e.reset_index(drop=True),
                                  z.reset_index(drop=True)], axis=1))

    # fan_out: a tiny single-split fact scan would otherwise run the
    # whole kernel on one core (per-edge results are batch-independent)
    return fan_out(df).mapInPandas(compute, schema=schema)


# -- the line × polygon operator ----------------------------------------------


ZONE_BROADCAST_THRESHOLD = 2000


def _maybe_collect_zones(zones, zone_dispatch: str,
                         threshold: int = ZONE_BROADCAST_THRESHOLD):
    """Zone-table dispatch of every zone operator: a DataFrame zone
    table with ≤ ``threshold`` rows and ``zone_dispatch="auto"`` →
    driver-side ``Zones`` for the broadcast-index path (which beats the
    cell equi-join by the dist path's fixed job overhead at small zone
    counts — the same small-input dispatch philosophy as
    scc/vectorize_regions); anything else is returned as given, so a
    DataFrame result stays distributed.  One bounded limit-probe collect
    decides (≤ threshold+1 rows)."""
    if not isinstance(zones, DataFrame) or zone_dispatch != "auto":
        return zones
    probe = zones.limit(threshold + 1).collect()
    if len(probe) > threshold:
        return zones
    return Zones.from_records([r.asDict() for r in probe])


def intersect_lines_with_zones(
    edges: DataFrame,
    zones: Zones,
    *,
    zone_label: str | None = None,
    include_void_zones: bool = False,
    index_res: int = 9,
    keep_geometry: bool = True,
    zone_dispatch: str = "auto",
) -> DataFrame:
    """Exact line∩polygon join with proportional length metrics.

    One output row per (edge, zone) pair with nonempty 1-D intersection;
    metrics per the reference contract (intersect.py:406-437).

    ``zones`` may be a driver-side ``Zones`` (broadcast cell index — the
    reference's ≤100-zone shape) or a DataFrame with a WKB geometry
    column.  DataFrame dispatch (``zone_dispatch``): ``"auto"`` probes
    the row count and COLLECTS small tables (≤ ZONE_BROADCAST_THRESHOLD)
    onto the faster broadcast path — both paths are hash-parity-pinned,
    so the choice is invisible; ``"dist"`` forces the distributed
    cell-join path (operators.intersect_dist)."""
    zones = _maybe_collect_zones(zones, zone_dispatch)
    if isinstance(zones, DataFrame):
        from osm_chordify_spark.operators.intersect_dist import (
            intersect_lines_with_zones_dist,
        )

        return intersect_lines_with_zones_dist(
            edges, zones, zone_label=zone_label,
            include_void_zones=include_void_zones, index_res=index_res,
            keep_geometry=keep_geometry,
        )
    metric_names = line_metric_names(zone_label)
    schema, edge_renames, zone_renames, edge_attr_cols = _assemble_schema(
        edges.schema, _zone_fields(zones), metric_names, zone_label, keep_geometry
    )
    if include_void_zones:
        # hidden zone ordinal: void-row bookkeeping must key on the zone
        # ITSELF, not its (possibly duplicated) attribute tuple — two
        # distinct zones with identical attrs would otherwise conflate
        # (reference keys on zone index, intersect.py:847-859); dropped
        # before return
        schema = StructType(list(schema.fields) + [StructField("__zid", LongType(), True)])
    index = zones.index(res=index_res)
    attrs = zones.attrs.rename(columns=zone_renames)
    kernel = partial(
        lines_kernel,
        (metric_names["proportion"], metric_names["edge_length"],
         metric_names["zone_length"]),
        [f.name for f in schema.fields], keep_geometry,
    )
    result = _map_index_pairs(edges, index, attrs,
                              [(c, edge_renames[c]) for c in edge_attr_cols],
                              kernel, schema)
    if include_void_zones:
        result = _append_void_rows(result, edges, index, attrs, schema).drop("__zid")
    return result


def _append_void_rows(result, edges, index: ZoneIndex, attrs, schema):
    """Union one NULL-metric row per zone that has a polygon whose bbox
    overlaps the edge table's bbox but that has no pieces (reference
    intersect.py:347-382 + :847-859).  The bbox test is one NumPy
    compare on the index's stored polygon bboxes (``GB.zones_touching``).

    Matched zones are keyed by the hidden ``__zid`` ordinal carried
    through the kernel — NOT by the zone attribute tuple, which would
    conflate distinct zones with identical attrs and silently drop their
    void rows.  ``result`` is materialized ONCE (eager localCheckpoint)
    before the matched-ordinal probe, so the exact clip kernel never
    runs twice — the probe and all downstream consumption read the
    checkpointed blocks."""
    bb = _edges_bbox(edges)
    kept = np.flatnonzero(GB.zones_touching(index.poly_zone, index.poly_bbox, bb,
                                            len(index.zone_ids)))
    result = result.localCheckpoint(eager=True)
    matched = {int(r[0]) for r in result.select("__zid").distinct().collect()}
    void = [int(z) for z in kept if int(z) not in matched]
    if not void:
        return result
    void_pdf = attrs.iloc[void].reset_index(drop=True).assign(__zid=void)
    names = [f.name for f in schema.fields]
    for c in names:
        if c not in void_pdf:
            void_pdf[c] = None
    void_df = result.sparkSession.createDataFrame(void_pdf[names], schema=schema)
    return result.unionByName(void_df)


# -- polygon × polygon (area-proportion) variants ------------------------------


def intersect_polygons_with_zones(
    polys: DataFrame,
    zones: Zones,
    *,
    zone_label: str | None = None,
    length_col: str | None = "edge_length",
    index_res: int = 9,
    keep_geometry: bool = True,
    cascade: bool = False,
    zone_dispatch: str = "auto",
) -> DataFrame:
    """Polygon-subject variant: area-based proportions
    (reference intersect.py:927-958 road-polygons; :1023-1054 cascade).

    proportion = overlap_area / subject_area (0 when subject area 0);
    zone length = length_col * proportion; surfaces rounded to 2 dp.

    A DataFrame ``zones`` dispatches like intersect_lines_with_zones:
    auto-collected onto the broadcast path when small, the distributed
    cell-join path otherwise (``zone_dispatch="dist"`` forces it)."""
    zones = _maybe_collect_zones(zones, zone_dispatch)
    if isinstance(zones, DataFrame):
        from osm_chordify_spark.operators.intersect_dist import (
            intersect_polygons_with_zones_dist,
        )

        return intersect_polygons_with_zones_dist(
            polys, zones, zone_label=zone_label, length_col=length_col,
            index_res=index_res, keep_geometry=keep_geometry, cascade=cascade,
        )
    schema, zone_renames, edge_cols, names = _polygon_schema(
        polys.schema, _zone_fields(zones), zone_label, keep_geometry, cascade,
        length_col,
    )
    kernel = partial(polygons_kernel, names, [f.name for f in schema.fields],
                     keep_geometry)
    return _map_index_pairs(polys, zones.index(res=index_res),
                            zones.attrs.rename(columns=zone_renames), edge_cols,
                            kernel, schema)


# -- spatial left join ----------------------------------------------------------


def spatial_left_join_with_zones(
    df: DataFrame,
    zones: Zones,
    *,
    zone_label: str | None = None,
    index_res: int = 9,
    geometry_kind: str = "line",
    zone_dispatch: str = "auto",
) -> DataFrame:
    """Left spatial join: every input row kept; zone attrs appended
    (NULL when unmatched); k matching zones ⇒ k rows
    (reference intersect.py:1497-1554).

    A DataFrame ``zones`` dispatches like intersect_lines_with_zones:
    auto-collected onto the broadcast path when small, the distributed
    cell-join path otherwise (``zone_dispatch="dist"`` forces it)."""
    zones = _maybe_collect_zones(zones, zone_dispatch)
    if isinstance(zones, DataFrame):
        from osm_chordify_spark.operators.intersect_dist import (
            spatial_left_join_with_zones_dist,
        )

        return spatial_left_join_with_zones_dist(
            df, zones, zone_label=zone_label, index_res=index_res,
            geometry_kind=geometry_kind,
        )
    schema, zone_renames = _left_join_schema(df.schema, _zone_fields(zones), zone_label)
    sc = df.sparkSession.sparkContext
    b_index = sc.broadcast(zones.index(res=index_res))
    b_attrs = sc.broadcast(zones.attrs.rename(columns=zone_renames))

    def compute(batches):
        idx: ZoneIndex = b_index.value
        touch = touch_kernel(geometry_kind, _index_zones(idx.zone_rings))
        for pdf in batches:
            pairs = _index_pairs(pdf, idx)
            inside = pairs["__contained"].to_numpy()
            hits = pd.concat([pairs.loc[inside, ["__eid", "__zid"]],
                              touch(pairs[~inside])]).sort_values(["__eid", "__zid"])
            z = b_attrs.value.iloc[hits["__zid"].to_numpy()]
            # left join on the batch row: unmatched rows get NULL zone
            # attrs, k matching zones give k rows in zone order
            yield pdf.reset_index(drop=True).join(
                z.set_axis(hits["__eid"].to_numpy()), how="left"
            )

    return fan_out(df).mapInPandas(compute, schema=schema)
