"""Spatial join operators: cell-cover point-in-polygon join and
radius-capped kNN join — the engine's replacements for geopandas
`sjoin(predicate="within")` (continental.py:276-283),
`sjoin(how="left")` (vector.py:1288-1289), and
`sjoin_nearest(max_distance=...)` (vector.py:1228-1233).

Strategy (SURVEY.md §2.3): no Catalyst extension — the spatial join is
*constructed* as a logical rewrite:

    polygons --explode--> (cell_id, poly)      [polyfill of bbox]
    points   --encode--->  cell_id             [vectorized Arrow UDF]
    equi-join on cell_id                        [Catalyst: hash/broadcast]
    refine: vectorized point-in-polygon / distance kernels

Scale notes:
  * replication lands on the FEATURE side (polyfill / kRing explode);
    points keep exactly one row each, so a 10^12-point table never
    self-multiplies.
  * the refine stage is `mapInPandas` (row-streaming), NOT a grouped
    map — so dense coastal cells create no per-key compute hotspot;
    AQE skew-split balances oversized shuffle partitions. Explicit
    salting (`salted`) is provided for the grouped aggregations that
    DO key by cell (per-cell dissolve/median).
  * cell assignment on the point side is the Catalyst bit-interleave
    expression (cells_expr) — zero Python crossings before the refine.
  * k=1 kNN (the only k the reference uses) is a single-shuffle
    min(struct(dist, feat_id)) aggregation over the refined pairs; the
    candidate set itself is never shuffled. k>1 falls back to
    dedup + ranking window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..geometry import algorithms as ga
from ..geometry import wkb
from ..index import cells
from ..index.cells_expr import cell_id_expr

DEFAULT_RES = 14  # 512 m cells

# Session Arrow batches are byte-bounded (32 MB) to protect fat image
# rows, record-bounded at 65,536 otherwise; upstream operators can still
# hand kernels smaller batches than ideal. Kernels below re-batch their
# input iterator to this many rows before computing — an operator-local
# floor on the vectorization width, independent of session batching.
_KERNEL_BATCH_ROWS = 65536


def _rebatched(batches, target_rows: int = _KERNEL_BATCH_ROWS):
    """Coalesce an iterator of small Arrow-sized DataFrames into
    ~target_rows chunks (vectorization-friendly without changing the
    session batch size that the image stages rely on)."""
    buf: list[pd.DataFrame] = []
    n = 0
    for pdf in batches:
        if len(pdf) == 0:
            continue
        buf.append(pdf)
        n += len(pdf)
        if n >= target_rows:
            yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            buf, n = [], 0
    if buf:
        yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]


def explode_polygons_to_cells(
    polys: DataFrame, res: int, pad_m: float = 0.0, pad_col: str | None = None
) -> DataFrame:
    """(poly cols..., geometry WKB) -> one row per covering cell.

    Coarse cover = polyfill of the geometry bbox (optionally padded for
    radius searches); exact refine happens after the equi join.
    pad_col names a per-row pad column (a per-feature search radius —
    one cover join can then serve features with different radii);
    pad_m is the uniform fallback.
    """

    from pyspark.sql.types import LongType as _Long
    from pyspark.sql.types import StructField, StructType

    # copy: StructType.add mutates in place, corrupting the input
    # DataFrame's cached schema
    out_schema = StructType(list(polys.schema.fields) + [StructField("cell_id", _Long())])

    def gen(batches):
        for pdf in batches:
            # vectorized expansion: per-row dict building is the hot
            # path of the distributed (big-feature-table) joins — at
            # 10^6 geometries x ~50 covering cells that is 5x10^7
            # Python dict copies; np.repeat + one concat is ~free
            pads = (
                pdf[pad_col].to_numpy(float)
                if pad_col is not None
                else np.full(len(pdf), float(pad_m))
            )
            covers = []
            for g, p in zip(pdf["geometry"], pads):
                x0, y0, x1, y1 = wkb.bbox(bytes(g))
                # out-of-frame bboxes clamp to edge cells inside
                # polyfill_bbox (same rule the point encoders apply),
                # so the cover is never empty and broadcast-vs-
                # distributed parity holds even for out-of-frame CRSs
                covers.append(
                    cells.polyfill_bbox(x0 - p, y0 - p, x1 + p, y1 + p, res)
                )
            counts = np.array([len(c) for c in covers], dtype=np.int64)
            if counts.sum() == 0:
                yield pd.DataFrame(columns=[f.name for f in out_schema.fields])
                continue
            rep = pdf.iloc[np.repeat(np.arange(len(pdf)), counts)].reset_index(
                drop=True
            )
            rep["cell_id"] = np.concatenate(
                [np.asarray(c, dtype=np.int64) for c in covers if len(c)]
            )
            yield rep[[f.name for f in out_schema.fields]]

    return polys.mapInPandas(gen, out_schema)


def points_in_polygons(
    points: DataFrame,
    polys: DataFrame,
    res: int = DEFAULT_RES,
    how: str = "inner",
    x_col: str = "x",
    y_col: str = "y",
    point_id: str = "point_id",
    broadcast_polys: bool | str = True,
) -> DataFrame:
    """Spatial containment join: point rows x polygon rows.

    Returns points columns + polygon attribute columns for each
    (point, polygon) containment pair; `how="left"` keeps unmatched
    points with nulls (region-attribute semantics, vector.py:1288).

    With broadcast_polys=True (default) the polygon side is
    materialized driver-side and broadcast — by contract it is the
    small side (AOI/region/hotspot tables; the reference's sjoin right
    sides are study-area-scale). broadcast_polys=False is the
    big-polygon-table path: the cell cover is built distributed
    (geometry replicated per covering cell), the join is a shuffled
    equi join (AQE skew-split applies), and the refine parses WKB
    inside the kernel. Either way the point side streams: one cell per
    point, refine is row-streaming mapInPandas, so the plan scales to
    10^12 points with no point-side replication and no per-key grouped
    hotspot. broadcast_polys="auto" probes the polygon side's row count
    (bounded LIMIT scan) and picks the path (resolve_broadcast).
    """
    if not resolve_broadcast(polys, broadcast_polys):
        return _points_in_polygons_dist(
            points, polys, res, how, x_col, y_col, point_id
        )
    spark = points.sparkSession
    polys_pdf = polys.toPandas()
    polys_pdf["_poly_pos"] = np.arange(len(polys_pdf), dtype=np.int64)
    rings = [wkb.parse(bytes(g)) for g in polys_pdf["geometry"]]
    for t, _ in rings:
        if t != wkb.POLYGON:
            raise ValueError("points_in_polygons expects Polygon geometry")

    cover_rows = []
    for pos, g in enumerate(polys_pdf["geometry"]):
        x0, y0, x1, y1 = wkb.bbox(bytes(g))
        for c in cells.polyfill_bbox(x0, y0, x1, y1, res):
            cover_rows.append((int(c), pos))
    cover_df = spark.createDataFrame(
        pd.DataFrame(cover_rows, columns=["cell_id", "_poly_pos"]).astype(
            {"cell_id": "int64", "_poly_pos": "int64"}
        )
    )

    pts = points.withColumn("cell_id", cell_id_expr(F.col(x_col), F.col(y_col), res))
    cand = pts.select(point_id, x_col, y_col, "cell_id").join(
        F.broadcast(cover_df), "cell_id"
    )

    def refine(batches):
        for pdf in _rebatched(batches):
            out = []
            for pos, grp in pdf.groupby("_poly_pos"):
                payload = rings[int(pos)][1]
                px, py = grp[x_col].to_numpy(float), grp[y_col].to_numpy(float)
                inside = ga.points_in_polygon(px, py, payload[0])
                for hole in payload[1:]:
                    inside &= ~ga.points_in_polygon(px, py, hole, boundary_counts=False)
                out.append(
                    pd.DataFrame(
                        {
                            point_id: grp[point_id].to_numpy()[inside],
                            "_poly_pos": int(pos),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    matches = cand.mapInPandas(refine, f"{point_id} long, _poly_pos long")
    poly_payload = spark.createDataFrame(polys_pdf.drop(columns=["geometry"]))
    matched = matches.join(F.broadcast(poly_payload), "_poly_pos").drop("_poly_pos")
    return points.join(matched, point_id, "inner" if how == "inner" else "left")


def _points_in_polygons_dist(
    points: DataFrame,
    polys: DataFrame,
    res: int,
    how: str,
    x_col: str,
    y_col: str,
    point_id: str,
) -> DataFrame:
    """Fully distributed containment join: no driver-side polygon
    materialization, no broadcast. All polygon attribute columns ride
    through the refine kernel unchanged; geometry is parsed inside the
    kernel, once per distinct polygon per chunk."""
    attr_cols = [c for c in polys.columns if c != "geometry"]
    poly_cells = explode_polygons_to_cells(polys, res)

    pts = points.withColumn("cell_id", cell_id_expr(F.col(x_col), F.col(y_col), res))
    cand = pts.select(point_id, x_col, y_col, "cell_id").join(poly_cells, "cell_id")

    out_fields = ", ".join(
        [f"{point_id} long"]
        + [
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in polys.schema.fields
            if f.name != "geometry"
        ]
    )

    def refine(batches):
        for pdf in _rebatched(batches):
            out = []
            # group by geometry bytes: one parse + one vectorized PIP
            # per distinct polygon present in the chunk
            for geom, grp in pdf.groupby("geometry", sort=False):
                t, payload = wkb.parse(bytes(geom))
                if t != wkb.POLYGON:
                    raise ValueError("points_in_polygons expects Polygon geometry")
                px = grp[x_col].to_numpy(float)
                py = grp[y_col].to_numpy(float)
                inside = ga.points_in_polygon(px, py, payload[0])
                for hole in payload[1:]:
                    inside &= ~ga.points_in_polygon(px, py, hole, boundary_counts=False)
                if inside.any():
                    keep = grp.loc[inside, [point_id] + attr_cols]
                    out.append(keep)
            if out:
                yield pd.concat(out, ignore_index=True)

    matched = cand.mapInPandas(refine, out_fields)
    return points.join(matched, point_id, "inner" if how == "inner" else "left")


def knn_join(
    points: DataFrame,
    features: DataFrame,
    radius_m: float,
    res: int = DEFAULT_RES,
    k: int = 1,
    x_col: str = "x",
    y_col: str = "y",
    point_id: str = "point_id",
    feat_id: str = "feat_id",
    broadcast_features: bool = True,
) -> DataFrame:
    """k-nearest-feature join with radius cap (sjoin_nearest analog).

    features: (feat_id, geometry WKB Point/LineString). Deterministic
    tie-break (distance, feat_id) — required for N-vs-4N exact-match
    parity (SURVEY.md §7 hard part #2).
    """
    dedup = k > 1  # duplicate (point, feature) pairs can't affect a min
    dists = _distances_within(
        points, features, radius_m, res, x_col, y_col, point_id, feat_id,
        broadcast_features, dedup_pairs=dedup,
    )
    if k == 1:
        # min(struct(dist, feat_id)) = deterministic argmin in ONE
        # shuffle (struct ordering is lexicographic: distance first,
        # then feat_id — the same tie-break as the ranking window).
        # The k>1 path needs dedup + a per-point sort; k=1 (the only k
        # the reference uses, vector.py:1228, 806-818) does not.
        m = dists.groupBy(point_id).agg(
            F.min(F.struct(F.col("dist_m"), F.col(feat_id))).alias("_m")
        )
        return m.select(
            point_id,
            F.col(f"_m.{feat_id}").alias(feat_id),
            F.col("_m.dist_m").alias("dist_m"),
            F.lit(1).alias("knn_rank"),
        )
    w = Window.partitionBy(point_id).orderBy(F.col("dist_m").asc(), F.col(feat_id).asc())
    return (
        dists.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )


def _distances_within(
    points: DataFrame,
    features: DataFrame,
    radius_m: float,
    res: int,
    x_col: str,
    y_col: str,
    point_id: str,
    feat_id: str,
    broadcast_features: bool,
    dedup_pairs: bool = True,
    radius_col: str | None = None,
) -> DataFrame:
    """(point, feature, dist_m) pairs with dist <= radius_m — shared
    candidate-generation + refine for knn_join/radius_join.

    dedup_pairs=False skips the duplicate-pair shuffle for callers whose
    downstream aggregation is duplicate-insensitive (k=1 argmin); the
    duplicated pairs then cost only their distance evaluation.

    radius_col: PER-FEATURE radius column on `features` — one cover
    join then serves features with heterogeneous radii (the cover pad
    and the final distance cap are both per-row; radius_m is then only
    an upper bound used for res selection by callers). The column
    rides through to the output."""
    feat_cells = explode_polygons_to_cells(
        features, res, pad_m=radius_m, pad_col=radius_col
    )
    # NOTE: pad by radius on the FEATURE side — points stay 1 row each.
    if broadcast_features:
        feat_cells = F.broadcast(feat_cells)

    pts = points.withColumn("cell_id", cell_id_expr(F.col(x_col), F.col(y_col), res))
    cand = pts.select(point_id, x_col, y_col, "cell_id").join(feat_cells, "cell_id")
    if dedup_pairs:
        cand = cand.dropDuplicates([point_id, feat_id])

    def dist_kernel(batches):
        for pdf in _rebatched(batches):
            out = []
            for fid, grp in pdf.groupby(feat_id):
                t, payload = wkb.parse(bytes(grp["geometry"].iloc[0]))
                px, py = grp[x_col].to_numpy(float), grp[y_col].to_numpy(float)
                if t == wkb.POINT:
                    d = np.hypot(px - payload[0], py - payload[1])
                elif t == wkb.LINESTRING:
                    if len(payload) < 2:  # degenerate: treat as a point
                        d = np.hypot(px - payload[0, 0], py - payload[0, 1])
                    else:
                        d, _ = ga.points_to_polyline_distance(px, py, payload)
                elif t == wkb.MULTILINESTRING:
                    d = np.full(px.size, np.inf)
                    for part in payload:
                        if len(part) < 2:
                            dd = np.hypot(px - part[0, 0], py - part[0, 1])
                        else:
                            dd, _ = ga.points_to_polyline_distance(px, py, part)
                        d = np.minimum(d, dd)
                else:
                    raise ValueError(f"knn_join unsupported geometry type {t}")
                cols = {point_id: grp[point_id].to_numpy(), feat_id: fid, "dist_m": d}
                if radius_col is not None:
                    # constant per feature; carried so the cap below can
                    # be evaluated per-row without a join back
                    cols[radius_col] = float(grp[radius_col].iloc[0])
                out.append(pd.DataFrame(cols))
            yield pd.concat(out, ignore_index=True)

    out_schema = f"{point_id} long, {feat_id} string, dist_m double"
    if radius_col is not None:
        out_schema += f", `{radius_col}` double"
    cap = F.col(radius_col) if radius_col is not None else F.lit(radius_m)
    return cand.mapInPandas(dist_kernel, out_schema).filter(
        F.col("dist_m") <= cap
    )


def radius_join(
    points: DataFrame,
    features: DataFrame,
    radius_m: float,
    res: int = DEFAULT_RES,
    x_col: str = "x",
    y_col: str = "y",
    point_id: str = "point_id",
    feat_id: str = "feat_id",
    broadcast_features: bool = True,
    radius_col: str | None = None,
) -> DataFrame:
    """All (point, feature) pairs within radius_m — the buffered-circle
    containment join (sjoin(within) on point buffers,
    continental.py:272-283) without materializing buffer polygons:
    distance-to-point <= radius is exactly containment in the disc.
    No ranking window — unlike knn_join, no per-point sort is needed.

    radius_col: per-feature radius column (heterogeneous search radii
    served by ONE cover join — the continental hotspots path); radius_m
    is then only the resolution-selection hint."""
    return _distances_within(
        points, features, radius_m, res, x_col, y_col, point_id, feat_id,
        broadcast_features, radius_col=radius_col,
    )


def salted(df: DataFrame, key_cols: list[str], salt_factor: int, id_col: str) -> DataFrame:
    """Add a deterministic salt column for skew-splitting hot cells
    (north_rule: 'explicit salted-key skew handling on dense coastal
    cells'). Use as groupBy(*key_cols, 'salt') -> partial agg ->
    groupBy(*key_cols) -> final merge for salt-decomposable aggs."""
    return df.withColumn("salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_factor)))


def resolve_broadcast(polys: DataFrame, broadcast_polys, probe_rows: int = 20_000) -> bool:
    """Resolve a broadcast_polys flag of True / False / "auto".

    "auto" probes the polygon side with a row-LIMIT count (limit+count
    is a cheap early-exit scan, never a full count at 100 TB): at or
    under probe_rows the driver-side broadcast path wins (zero
    shuffle); above it the distributed cell-explode path is the only
    safe plan. Callers that know their table sizes should pass the
    bool and skip the probe."""
    if broadcast_polys == "auto":
        return polys.limit(probe_rows + 1).count() <= probe_rows
    return bool(broadcast_polys)
