"""End-to-end shoreline pipeline plan (the flagship query).

tiles (input_hint schema)
  -> caption parse (JVM from_json)
  -> tide-window row filter           (raster.py:330-337 semantics)
  -> per-(tile, year) composite       (raster.py:379-384)  } one grouped
  -> marching-squares vectorization   (vector.py:1450-1456) } map
  -> shoreline rows (cell_id, year, WKB, certainty)

One Python stage total; everything before it is Catalyst-optimized
DataFrame ops. At 100 TB the plan shape is: parquet/Iceberg scan with
(cell, year) partition pruning -> broadcast join of tide cutoffs ->
shuffle on (tile_x, tile_y, year) -> grouped map.

Plans that need the composite table itself (rates, masking, gapfill)
run the staged pair annual_composites |> contours.shorelines instead;
its rows equal shoreline_pipeline's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import composite as comp_op
from ..operators import contours as cont_op
from ..operators import masking as mask_op


def shoreline_pipeline(
    tiles: DataFrame, apply_tide_filter: bool = True
) -> DataFrame:
    """Tiles -> shoreline rows: caption parse, tide filter, then one
    grouped map per (tile, year) that composites and vectorizes."""
    meta = comp_op.with_caption(tiles)
    if apply_tide_filter:
        meta = comp_op.tide_filtered(meta)
    return (
        meta.select(
            "tile_x", "tile_y", "year", "bytes", "fmt", "transform", "halo_px"
        )
        .groupBy("tile_x", "tile_y", "year")
        .applyInPandas(cont_op._shoreline_rows_for_group, cont_op.SHORELINE_SCHEMA)
    )


def rates_pipeline(
    tiles: DataFrame,
    baseline_year: int,
    spacing_m: float = 30.0,
    apply_tide_filter: bool = True,
    geomorphology: DataFrame | None = None,
) -> DataFrame:
    """Full rates-of-change plan: tiles -> composites -> shorelines ->
    baseline points -> annual signed distances -> regression UDAF ->
    certainty cascade (reference entry point 2, vector.py:1369-1680)."""
    from pyspark import StorageLevel

    from ..operators import rates as rates_op

    # comps feeds both vectorization and raster sampling; sl feeds both
    # baseline points and per-year nearest. Without persist, every
    # downstream branch re-executes the full decode+composite stage —
    # at corpus scale that is the whole job several times over. (The
    # reference materializes composites to GeoTIFF between its CLIs for
    # exactly this reason; CheckpointedPipeline is the durable variant.)
    # The caches are INTENTIONALLY left pinned for the session: the
    # returned plan is lazy, so unpersisting here would defeat them and
    # there is no post-action hook. Callers running many pipelines in
    # one session should use CheckpointedPipeline (durable, no cache)
    # or spark.catalog.clearCache() between runs.
    comps = comp_op.annual_composites(tiles, apply_tide_filter).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sl = cont_op.shorelines(comps).persist(StorageLevel.MEMORY_AND_DISK)
    pts = rates_op.baseline_points(sl, baseline_year, spacing_m)
    nearest = rates_op.annual_nearest(pts, sl)
    signed = rates_op.signed_distances(nearest, comps, baseline_year)
    # year list from the caption-only tile scan (column-pruned, no
    # pixels touched) — deriving it from `sl` would execute the whole
    # raster->vector stage a second time just to enumerate years
    years = [
        r.year
        for r in comp_op.with_caption(tiles).select("year").distinct().collect()
    ]
    rates = rates_op.rates_of_change(signed, initial_year=min(years))
    return rates_op.with_certainty(
        rates, n_years=len(years), baseline_year=baseline_year,
        geomorphology=geomorphology,
    )


def masked_shoreline_pipeline(
    tiles: DataFrame,
    apply_tide_filter: bool = True,
    min_vertices: int = 10,
) -> DataFrame:
    """Full reference-parity path: annual + gapfill composites ->
    contours_preprocess masking (vector.py:476-697) -> vectorization.
    One extra shuffle vs the plain path: the per-tile grouped masking
    (cross-year steps force grouping by tile)."""
    annual = comp_op.annual_composites(tiles, apply_tide_filter)
    gapfill_df = comp_op.gapfill_composites(tiles, apply_tide_filter)
    masked = mask_op.masked_composites(annual, gapfill_df)
    return cont_op.shorelines(masked, min_vertices=min_vertices)


def shorelines_in_aoi(
    shorelines: DataFrame,
    aoi: DataFrame,
    res: int = 12,
    min_frac: float = 0.0,
    aoi_id: str = "aoi_id",
) -> DataFrame:
    """Point-in-polygon test of subpixel waterline contour VERTICES
    against coastal AOI polygons — the headline spatial join of the
    target spec, generalizing the reference's clip-to-study-area step
    (coastlines/vector.py:1604,1658: `gpd.clip` against the one grid
    cell) to an attributed many-AOI containment join.

    Plan: explode each shoreline's vertices (one vectorized Arrow
    kernel; WKB parse is numpy slicing), cell-cover PIP join against
    the broadcast AOI table, then re-aggregate per (shoreline, AOI):
    `n_inside` vertices and `frac_inside`. Shorelines with
    frac_inside >= min_frac survive, carrying the AOI attribute —
    semi-join semantics when min_frac == 0 (any vertex inside).

    Scale: the vertex side is the big side and streams — one cell per
    vertex, no replication; two shuffles total (the PIP candidates and
    the per-shoreline re-aggregation, both keyed well below task-size
    limits). Deterministic row identity via xxhash64 of the shoreline's
    business key, so N-vs-4N runs match exactly.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from ..geometry import wkb as _wkb
    from ..operators.spatial_join import points_in_polygons

    from pyspark.sql.window import Window

    # sl feeds two branches (the vertex explode and the attribute join
    # back); without persist each branch re-executes the entire
    # raster->vector stage upstream — at corpus scale that is the whole
    # job twice (same pattern and rationale as rates_pipeline).
    # Row identity = xxhash64(business key) + a dup ordinal: identical
    # input rows would otherwise share _sl_id and the join-back would
    # fan out k x k, silently inflating n_inside (identical rows are
    # interchangeable, so the ordinal assignment is output-invariant).
    dup_w = Window.partitionBy(
        "tile_x", "tile_y", "year", "geometry"
    ).orderBy(F.lit(1))
    sl = shorelines.withColumn(
        "_sl_id",
        F.xxhash64(
            "tile_x", "tile_y", "year", "geometry",
            F.row_number().over(dup_w),
        ),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def explode_verts(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, vidx, nvs, xs, ys = [], [], [], [], []
            for sid, g in zip(pdf["_sl_id"], pdf["geometry"]):
                c = _wkb.coords_of(bytes(g))
                n = len(c)
                ids.append(np.full(n, sid, dtype=np.int64))
                vidx.append(np.arange(n, dtype=np.int64))
                nvs.append(np.full(n, n, dtype=np.int64))
                xs.append(c[:, 0])
                ys.append(c[:, 1])
            if ids:
                yield pd.DataFrame(
                    {
                        "_sl_id": np.concatenate(ids),
                        "vidx": np.concatenate(vidx),
                        # each vertex carries its shoreline's vertex count
                        # so the total needs no second scan of the verts
                        "nv_total": np.concatenate(nvs),
                        "x": np.concatenate(xs),
                        "y": np.concatenate(ys),
                    }
                )

    verts = (
        sl.select("_sl_id", "geometry")
        .mapInPandas(
            explode_verts,
            "_sl_id long, vidx long, nv_total long, x double, y double",
        )
        .withColumn("_vx_id", F.xxhash64("_sl_id", "vidx"))
    )
    hits = points_in_polygons(
        verts, aoi, res=res, how="inner", point_id="_vx_id"
    )
    per_aoi = hits.groupBy("_sl_id", aoi_id).agg(
        F.count("*").alias("n_inside"),
        F.first("nv_total").alias("n_vertices_total"),
    )
    return (
        sl.join(per_aoi, "_sl_id")
        .withColumn(
            "frac_inside",
            F.col("n_inside") / F.col("n_vertices_total"),
        )
        .filter(F.col("frac_inside") >= min_frac)
        .drop("_sl_id")
    )
