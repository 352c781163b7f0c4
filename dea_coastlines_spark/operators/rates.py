"""Rates-of-change stage: baseline points -> annual signed distances ->
robust regression + all-time stats + certainty cascade.

Reference parity (coastlines/vector.py):
  * points_on_line 30 m spacing            :700-741
  * annual_movements (nearest point per year, raster-sampled sign,
    max_valid_dist=1000, bearings % 180, dists rounded 2 dp,
    dist_<baseline> = 0.0)                 :744-889
  * change_regress (MAD + linregress, 3 dp):967-1055
  * all_time_stats (SCE/NSM/valid_obs/...) :1115-1183
  * certainty cascade (sequential overwrite— later flags win)
                                           :1549-1580
  * geohash uid                            :1590-1595

Spark shape (scale notes):
  * per-tile discipline mirrors the reference's per-study-area CLI runs:
    distances/bearings are computed in ONE cogrouped applyInPandas per
    tile (points x that tile's year-contours), sign sampling in a second
    cogroup per tile (points x that tile's rasters). Group memory =
    one tile's stack — the masking stage's bound.
  * the per-point regression UDAF is a groupBy(point_id) applyInPandas
    over LONG-form (point, year, dist) rows — the shuffle-friendly form
    (SURVEY.md §7 hard part #5); the wide dist_YYYY table is produced
    only at export via pivot.
  * deviation from reference: bearings/uids use the planar synthetic
    CRS directly (no pyproj in env) — bearing axis fold (% 180) and
    geohash uid semantics preserved; uid lat/lon uses a fixed 1e-5
    deg/m pseudo-projection.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codecs import tiff
from ..functions import stats
from ..geometry import algorithms as ga
from ..geometry import wkb
from ..index import cells
from ..index.geohash import geohash_encode

POINT_ID_RES = 29  # 0.25 m quadtree cells: coordinate-deterministic ids


def _point_ids(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    return cells.xy_to_cell(xs, ys, POINT_ID_RES)


def baseline_points(shorelines: DataFrame, baseline_year: int, spacing: float = 30.0) -> DataFrame:
    """Points every `spacing` m along the baseline year's shorelines.

    point_id is a function of coordinates (res-29 quadtree cell), so ids
    are identical across reruns and cluster sizes (exact-match parity
    under parallelism, SURVEY.md §7 hard part #2)."""
    base = shorelines.filter(F.col("year") == baseline_year)

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                line = wkb.parse(bytes(r.geometry))[1]
                length = ga.polyline_length(line)
                # float length, NOT int(length): truncation drops the
                # last point when floor(length) <= a spacing multiple
                # that length exceeds (e.g. 90.4 m / 30 m), and a sub-
                # metre line must still yield its start point — matches
                # the reference's points_on_line arange semantics
                dists = np.arange(0.0, length, spacing, dtype=np.float64)
                if dists.size == 0:
                    dists = np.array([0.0])
                pts = ga.interpolate_along(line, dists)
                ids = _point_ids(pts[:, 0], pts[:, 1])
                for pid, (x, y) in zip(ids, pts):
                    rows.append(
                        {"tile_x": int(r.tile_x), "tile_y": int(r.tile_y),
                         "point_id": int(pid), "x": float(x), "y": float(y)}
                    )
            yield pd.DataFrame(rows, columns=["tile_x", "tile_y", "point_id", "x", "y"])

    pts = base.mapInPandas(
        gen, "tile_x int, tile_y int, point_id long, x double, y double"
    )
    # deterministic dedup: points <0.25 m apart (e.g. at tile seams)
    # share a res-29 point_id; dropDuplicates would keep an arbitrary
    # row, making x/y/tile run-order-dependent — min(struct) is the
    # same winner at any parallelism
    m = pts.groupBy("point_id").agg(
        F.min(F.struct("x", "y", "tile_x", "tile_y")).alias("_p")
    )
    return m.select(
        F.col("_p.tile_x").alias("tile_x"),
        F.col("_p.tile_y").alias("tile_y"),
        "point_id",
        F.col("_p.x").alias("x"),
        F.col("_p.y").alias("y"),
    )


DIST_SCHEMA = (
    "tile_x int, tile_y int, point_id long, x double, y double, year int, "
    "dist_raw double, near_x double, near_y double, bearing double"
)


def annual_nearest(points: DataFrame, shorelines: DataFrame, max_valid_dist: float = 1000.0) -> DataFrame:
    """Per (point, year): nearest point on that year's contours within the
    point's tile; raw distance (NaN beyond max_valid_dist) + bearing
    folded % 180 (vector.py:806-867)."""

    def kernel(pts: pd.DataFrame, conts: pd.DataFrame) -> pd.DataFrame:
        if len(pts) == 0 or len(conts) == 0:
            return pd.DataFrame(columns=[c.split()[0] for c in DIST_SCHEMA.split(", ")])
        px = pts["x"].to_numpy(float)
        py = pts["y"].to_numpy(float)
        out = []
        for year, grp in conts.groupby("year"):
            best_d = np.full(px.size, np.inf)
            best_xy = np.zeros((px.size, 2))
            for g in grp["geometry"]:
                line = wkb.parse(bytes(g))[1]
                if len(line) < 2:
                    continue
                d, near = ga.points_to_polyline_distance(px, py, line)
                upd = d < best_d
                best_d[upd] = d[upd]
                best_xy[upd] = near[upd]
            bearing = np.mod(ga.bearing_deg(px, py, best_xy[:, 0], best_xy[:, 1]), 180.0)
            # no usable contour this year (all geometries degenerate):
            # best_xy stayed (0,0) — emit NaN bearing, not an angle
            # toward the world origin that would pollute angle_std
            bearing = np.where(np.isinf(best_d), np.nan, bearing)
            dist_raw = np.where(best_d < max_valid_dist, best_d, np.nan)
            out.append(
                pd.DataFrame(
                    {
                        "tile_x": pts["tile_x"].to_numpy(),
                        "tile_y": pts["tile_y"].to_numpy(),
                        "point_id": pts["point_id"].to_numpy(),
                        "x": px, "y": py,
                        "year": int(year),
                        "dist_raw": dist_raw,
                        "near_x": best_xy[:, 0], "near_y": best_xy[:, 1],
                        "bearing": bearing,
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return (
        points.groupBy("tile_x", "tile_y")
        .cogroup(shorelines.groupBy("tile_x", "tile_y"))
        .applyInPandas(kernel, DIST_SCHEMA)
    )


def bilinear_sample(arr: np.ndarray, transform: list[float], xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Bilinear raster sampling at world coords (xarray .interp analog,
    vector.py:789-794); NaN outside or where any corner is NaN."""
    a, _, c, _, e, f = transform
    colf = (np.asarray(xs, float) - c) / a - 0.5
    rowf = (np.asarray(ys, float) - f) / e - 0.5
    h, w = arr.shape
    r0 = np.floor(rowf).astype(int)
    c0 = np.floor(colf).astype(int)
    fr = rowf - r0
    fc = colf - c0
    ok = (r0 >= 0) & (r0 < h - 1) & (c0 >= 0) & (c0 < w - 1)
    r0c = np.clip(r0, 0, h - 2)
    c0c = np.clip(c0, 0, w - 2)
    v00 = arr[r0c, c0c]
    v01 = arr[r0c, c0c + 1]
    v10 = arr[r0c + 1, c0c]
    v11 = arr[r0c + 1, c0c + 1]
    val = (
        v00 * (1 - fr) * (1 - fc) + v01 * (1 - fr) * fc
        + v10 * fr * (1 - fc) + v11 * fr * fc
    )
    return np.where(ok, val, np.nan)


SIGNED_SCHEMA = (
    "point_id long, x double, y double, year int, dist double, bearing double"
)


def signed_distances(nearest: DataFrame, composites: DataFrame, baseline_year: int) -> DataFrame:
    """Apply change directionality by sampling water-index rasters
    (vector.py:829-847): comp raster at baseline point vs baseline raster
    at comp point; NaN propagated; dists rounded 2 dp; baseline year
    forced to 0.0 (vector.py:886-887)."""

    comps = composites.select("tile_x", "tile_y", "year", "mndwi_bytes", "transform")

    def kernel(dists: pd.DataFrame, rasters: pd.DataFrame) -> pd.DataFrame:
        if len(dists) == 0:
            return pd.DataFrame(columns=["point_id", "x", "y", "year", "dist", "bearing"])
        arrs = {}
        tf = None
        for r in rasters.itertuples():
            arrs[int(r.year)] = tiff.decode_f32(bytes(r.mndwi_bytes))
            tf = json.loads(r.transform)
        base_arr = arrs.get(baseline_year)
        out = []
        for year, grp in dists.groupby("year"):
            year = int(year)
            comp_arr = arrs.get(year)
            d = grp["dist_raw"].to_numpy(float)
            if comp_arr is None or base_arr is None or tf is None:
                signed = np.full(d.size, np.nan)
            else:
                p1 = bilinear_sample(comp_arr, tf, grp["x"].to_numpy(), grp["y"].to_numpy())
                p2 = bilinear_sample(base_arr, tf, grp["near_x"].to_numpy(), grp["near_y"].to_numpy())
                loss_gain = np.where(p2 > p1, 1.0, -1.0)
                loss_gain = np.where(np.isnan(p1) | np.isnan(p2), np.nan, loss_gain)
                signed = d * loss_gain
            if year == baseline_year:
                signed = np.zeros(d.size)
            out.append(
                pd.DataFrame(
                    {
                        "point_id": grp["point_id"].to_numpy(),
                        "x": grp["x"].to_numpy(), "y": grp["y"].to_numpy(),
                        "year": year,
                        "dist": np.round(signed, 2),
                        "bearing": grp["bearing"].to_numpy(),
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return (
        nearest.groupBy("tile_x", "tile_y")
        .cogroup(comps.groupBy("tile_x", "tile_y"))
        .applyInPandas(kernel, SIGNED_SCHEMA)
    )


RATES_SCHEMA = (
    "point_id long, x double, y double, uid string, "
    "rate_time double, incpt_time double, sig_time double, se_time double, "
    "outl_time string, angle_mean int, angle_std int, "
    "valid_obs int, valid_span int, sce double, nsm double, "
    "max_year int, min_year int"
)


def _uid_lonlat(xs: np.ndarray, ys: np.ndarray, crs: str | None):
    """Planar coords -> (lat, lon) for the geohash uid. crs=None keeps
    the documented 1e-5 deg/m pseudo-projection (synthetic corpora);
    a real EPSG string (e.g. the reference's EPSG:3577) makes uids
    comparable to reference uids on real data (vector.py:1591)."""
    if crs is None:
        return ys * 1e-5, xs * 1e-5
    from ..geometry.crs import to_lonlat

    lon, lat = to_lonlat(xs, ys, crs)
    return lat, lon


def rates_of_change(
    signed: DataFrame, initial_year: int, uid_crs: str | None = None
) -> DataFrame:
    """Per-point robust regression + circular stats + all-time stats —
    the signature UDAF.

    Batched form: ONE shuffle packs each point's observations into an
    array (collect_list of structs — same shuffle a grouped map pays),
    then a mapInPandas kernel processes THOUSANDS of points per
    invocation, with the geohash vectorized across the batch. At 10^8
    points the per-group overhead of groupBy(point_id).applyInPandas
    (one kernel call per ~35-row group) dominated; this form cuts the
    Python crossings by the Arrow batch size. Output is identical:
    years are unique within a point (annual_nearest emits one row per
    point-year), so the in-kernel year sort reproduces the grouped
    map's ordering exactly."""
    agg = signed.groupBy("point_id").agg(
        F.first("x").alias("x"),
        F.first("y").alias("y"),
        F.collect_list(F.struct("year", "dist", "bearing")).alias("obs"),
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xs = pdf["x"].to_numpy(float)
            ys = pdf["y"].to_numpy(float)
            lat, lon = _uid_lonlat(xs, ys, uid_crs)
            uids = geohash_encode(lat, lon, 10)
            rows = []
            for i, obs in enumerate(pdf["obs"]):
                years = np.array([o["year"] for o in obs], np.int64)
                order = np.argsort(years, kind="stable")
                years = years[order]
                dists = np.array([o["dist"] for o in obs], float)[order]
                bearings = np.array([o["bearing"] for o in obs], float)[order]
                reg = stats.change_regress(dists, years, years)
                at = stats.all_time_stats(years, dists, reg["outliers"], initial_year)
                bs = bearings[~np.isnan(bearings)]
                angle_mean = int(np.round(stats.circmean_deg(bs))) if bs.size else 0
                angle_std = int(np.round(stats.circstd_deg(bs))) if bs.size else 0
                rows.append(
                    {
                        "point_id": int(pdf["point_id"].iloc[i]),
                        "x": float(xs[i]), "y": float(ys[i]), "uid": uids[i],
                        "rate_time": reg["slope"], "incpt_time": reg["intercept"],
                        "sig_time": reg["pvalue"], "se_time": reg["stderr"],
                        "outl_time": reg["outliers"],
                        "angle_mean": angle_mean, "angle_std": angle_std,
                        "valid_obs": at["valid_obs"], "valid_span": at["valid_span"],
                        "sce": at["sce"], "nsm": at["nsm"],
                        "max_year": at["max_year"] if at["max_year"] is not None else -1,
                        "min_year": at["min_year"] if at["min_year"] is not None else -1,
                    }
                )
            yield pd.DataFrame(rows)

    return agg.mapInPandas(kernel, RATES_SCHEMA)


# reference rocky classes (vector.py:1530-1546)
ROCKY_CLASSES = [
    "Bedrock breakdown debris (cobbles/boulders)",
    "Boulder (rock) beach",
    "Cliff (>5m) (undiff)",
    "Colluvium (talus) undiff",
    "Flat boulder deposit (rock) undiff",
    "Hard bedrock shore",
    "Hard bedrock shore inferred",
    "Hard rock cliff (>5m)",
    "Hard rocky shore platform",
    "Rocky shore (undiff)",
    "Rocky shore platform (undiff)",
    "Sloping hard rock shore",
    "Sloping rocky shore (undiff)",
    "Soft `bedrock¿ cliff (>5m)",
    "Steep boulder talus",
]


def with_certainty(
    rates: DataFrame,
    n_years: int,
    baseline_year: int,
    geomorphology: DataFrame | None = None,
    rocky_radius_m: float = 300.0,
) -> DataFrame:
    """Certainty cascade with the reference's sequential-overwrite
    priority — LATER rules win (vector.py:1549-1580), so the CASE chain
    is evaluated in reverse order (first match = highest priority)."""
    df = rates
    if geomorphology is not None:
        from .spatial_join import knn_join

        rocky_feats = geomorphology.filter(
            F.col("INTERTD1_V").isin(ROCKY_CLASSES)
            & F.col("INTERTD2_V").isin(ROCKY_CLASSES + ["Unclassified"])
        ).select("feat_id", "geometry")
        nn = knn_join(
            df.select("point_id", "x", "y"), rocky_feats,
            radius_m=rocky_radius_m, k=1,
        ).select("point_id", F.lit(True).alias("is_rocky"))
        df = df.join(nn, "point_id", "left").fillna({"is_rocky": False})
    else:
        df = df.withColumn("is_rocky", F.lit(False))

    valid_obs_thresh = int(n_years * 0.75)
    baseline_token = str(baseline_year)
    return df.withColumn(
        "certainty",
        F.when(F.col("valid_obs") < valid_obs_thresh, "insufficient observations")
        .when(F.col("angle_std") > 30, "high angular variability")
        .when(F.abs(F.col("rate_time")) > 50, "extreme value (> 50 m)")
        .when(F.col("is_rocky"), "likely rocky coastline")
        .when(
            F.array_contains(F.split(F.col("outl_time"), " "), baseline_token),
            "baseline outlier",
        )
        .otherwise("good"),
    ).drop("is_rocky")

