"""The coastline workloads: inputs, set-up, one op, and its check.

Every workload drives the engine only through public functions. An op
is one closed-loop request; `op()` returns what its check needs, and
`check()` runs outside the timed region. `layered_op()` runs the same
request one layer at a time for the traced pass (see tracing.py).
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

from dea_coastlines_spark.codecs import image as img_codec
from dea_coastlines_spark.geometry import wkb
from dea_coastlines_spark.index import cells
from dea_coastlines_spark.operators import composite as comp_op
from dea_coastlines_spark.operators import contours as cont_op
from dea_coastlines_spark.operators import rates as rates_op
from dea_coastlines_spark.plans.checkpoint import CheckpointedPipeline
from dea_coastlines_spark.plans.pipeline import shoreline_pipeline, shorelines_in_aoi
from dea_coastlines_spark.sources import read_tiles, write_tiles
from dea_coastlines_spark.sources.table import SnapshotTable
from dea_coastlines_spark.synth import corpus

# Sizes per workload: "full" is the benchmark, "toy" the smoke test.
SIZES = {
    "rates_aoi": {
        "full": dict(tiles_x=1, year1=2023, aoi_m=400.0),
        "toy": dict(tiles_x=1, year1=2011, aoi_m=640.0),
    },
    "append_resume": {
        "full": dict(tile_px=256, cols_per_batch=1, year1=2005, max_batches=10),
        "toy": dict(tile_px=64, cols_per_batch=1, year1=2002, max_batches=3),
    },
}


def materialize(df) -> None:
    """Run df's whole plan and drop the rows (Spark's noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def _kept_tide_medians(spec: corpus.CorpusSpec) -> dict[int, float]:
    """Oracle for the tide filter: median kept tide per year.

    Tides depend only on (year, obs), so every tile sees the same
    window: centre +- a quarter of the range over all years."""
    tides = {
        (y, o): round(corpus.tide_for(spec, y, o), 4)
        for y in spec.years
        for o in range(spec.obs_per_year)
    }
    lo, hi = min(tides.values()), max(tides.values())
    centre, half = (lo + hi) / 2.0, (hi - lo) * 0.25
    out = {}
    for y in spec.years:
        kept = [
            t for (yy, _), t in tides.items()
            if yy == y and centre - half <= t <= centre + half
        ]
        if kept:
            out[y] = float(np.median(kept))
    return out


def check_against_coast(spec, tide_med: dict[int, float], sl) -> str | None:
    """Closed-form coast oracle: every year that kept observations has
    shorelines, and their vertices sit on y_coast at that year's median
    kept tide (median error below one pixel, p95 below three)."""
    if len(sl) == 0:
        return "no shorelines"
    missing = set(tide_med) - set(int(y) for y in sl["year"].unique())
    if missing:
        return f"no shorelines for years {sorted(missing)}"
    for year, grp in sl.groupby("year"):
        if int(year) not in tide_med:
            return f"shorelines for year {year}, which kept no observations"
        verts = np.vstack([wkb.coords_of(bytes(g)) for g in grp["geometry"]])
        expect = corpus.y_coast(spec, verts[:, 0], int(year), tide_med[int(year)])
        err = np.abs(verts[:, 1] - expect)
        if not (np.median(err) < spec.res_m and np.percentile(err, 95) < 3 * spec.res_m):
            return (
                f"year {year}: coast error median {np.median(err):.1f} m, "
                f"p95 {np.percentile(err, 95):.1f} m"
            )
    return None


def _decode_pass(tiles):
    """Decode-only pass over encoded tiles: pixels decoded."""

    def kernel(batches):
        for pdf in batches:
            px = 0
            for b, f in zip(pdf["bytes"], pdf["fmt"]):
                px += img_codec.decode_tile(bytes(b), f).size
            yield pd.DataFrame({"px": [px]})

    px = tiles.select("bytes", "fmt").mapInPandas(kernel, "px long").agg(F.sum("px"))
    return int(px.collect()[0][0] or 0)


class Workload:
    name = ""

    def __init__(self, work_dir: str, seed: int, size: str):
        self.spark = None  # attached once the inputs are rendered
        self.work = work_dir
        self.seed = seed
        self.cfg = SIZES[self.name][size]
        self.inputs = os.path.join(work_dir, "inputs")

    def _fresh(self, sub: str) -> str:
        path = os.path.join(self.work, sub)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def input_parts(self) -> list[tuple[str, corpus.CorpusSpec, list]]:
        """The seed's input tiles as (file under inputs/, spec, keys)."""
        keys = list(corpus.iter_keys(self.spec))
        n = 12
        return [(f"part-{j:02d}.parquet", self.spec, keys[j::n]) for j in range(n)]

    def prepare(self) -> None:
        """Work on the rendered inputs that needs Spark (not timed)."""

    def setup(self, k: int) -> None:
        """Build the state ops run against; k numbers repeated set-ups."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> str | None:
        """None when the op's output is right, else what is wrong."""
        raise NotImplementedError

    def final_check(self) -> str | None:
        return None

    def layered_op(self, i: int, tr):
        raise NotImplementedError

    def work_items(self) -> int:
        """Tiles one warm op processes."""
        raise NotImplementedError

    def exhausted(self) -> bool:
        """True when no input is left for another op."""
        return False


class RatesAoi(Workload):
    """Vector/rates CLI shape: reload annual composites, vectorize,
    then rates of change and an AOI point-in-polygon join."""

    name = "rates_aoi"
    AOI_RES = 12  # cell-cover resolution shorelines_in_aoi joins at
    GRID_OFFSET_M = 7.3  # AOI grid origin off the tile grid

    def __init__(self, *a):
        super().__init__(*a)
        self.spec = corpus.CorpusSpec(
            tile_px=128, halo_px=8, tiles_x=self.cfg["tiles_x"], tiles_y=1,
            year0=2000, year1=self.cfg["year1"], obs_per_year=2,
            cloud_frac=0.0, noise_sd=0.04, tide_amp_m=8.0, seed=self.seed,
        )
        self.baseline_year = self.spec.year0
        self.n_comp = self.spec.tiles_x * self.spec.tiles_y * len(self.spec.years)
        self.aoi_pdf = self._aoi_grid(self.cfg["aoi_m"])

    def _aoi_grid(self, size):
        """Square AOIs tiling the coast's domain. The grid is offset
        from the tile grid so no square edge lies on a tile seam."""
        off = self.GRID_OFFSET_M
        x0, y0, _, _ = self.spec.tile_core_bounds(0, 0)
        x0, y0 = x0 - off, y0 - off
        w = self.spec.tiles_x * self.spec.core_m + off
        h = self.spec.tiles_y * self.spec.core_m + off
        nx, ny = math.ceil(w / size), math.ceil(h / size)
        ids, geoms, bounds = [], [], []
        for j in range(ny):
            for i in range(nx):
                a, b = x0 + i * size, y0 + j * size
                ids.append(j * nx + i)
                bounds.append((a, b, a + size, b + size))
                geoms.append(wkb.polygon(np.array(
                    [[a, b], [a + size, b], [a + size, b + size], [a, b + size], [a, b]]
                )))
        self.aoi_bounds = np.array(bounds)
        return pd.DataFrame({"aoi_id": np.array(ids, np.int64), "geometry": geoms})

    def prepare(self):
        self.aoi = self.spark.createDataFrame(self.aoi_pdf).persist()
        self.aoi.count()

    def setup(self, k):
        """The raster CLI's output: an annual-composites table. As in the
        rates oracle test, every observation is kept (the tide spread is
        small) so each year has a composite."""
        self.table = self._fresh(f"composites-{k}")
        comps = comp_op.annual_composites(
            self.spark.read.parquet(self.inputs), apply_tide_filter=False
        )
        SnapshotTable(self.spark, self.table).create(comps, partition_by=["year"])
        if k:
            shutil.rmtree(os.path.join(self.work, f"composites-{k - 1}"), ignore_errors=True)

    def _certain(self, signed):
        rates = rates_op.rates_of_change(signed, initial_year=self.spec.year0)
        return rates_op.with_certainty(
            rates, n_years=len(self.spec.years), baseline_year=self.baseline_year
        )

    def op(self, i):
        comps = SnapshotTable(self.spark, self.table).read().persist(
            StorageLevel.MEMORY_AND_DISK
        )
        sl = cont_op.shorelines(comps).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            pts = rates_op.baseline_points(sl, self.baseline_year)
            nearest = rates_op.annual_nearest(pts, sl)
            signed = rates_op.signed_distances(nearest, comps, self.baseline_year)
            rates = self._certain(signed).toPandas()
            in_aoi = shorelines_in_aoi(sl, self.aoi).toPandas()
        finally:
            sl.unpersist()
            comps.unpersist()
        return rates, in_aoi

    def check(self, i, result):
        rates, in_aoi = result
        err = self._check_rates(rates)
        return err or self._check_aoi(in_aoi)

    def _check_rates(self, rates):
        """Analytic erosion oracle on the 'good' points."""
        if len(rates) <= 20 or not rates["point_id"].is_unique:
            return f"rates: {len(rates)} points, or duplicate point ids"
        good = rates[rates["certainty"] == "good"]
        if len(good) <= 10:
            return f"rates: only {len(good)} of {len(rates)} points are good"
        x = good["x"].to_numpy()
        ero = self.spec.erosion_m_per_year * (
            1.0 + 0.5 * np.sin(2 * np.pi * x / (3.7 * self.spec.wavelen_m))
        )
        err = good["rate_time"].to_numpy() - ero
        if not (abs(np.median(err)) < 5.0 and np.percentile(np.abs(err), 90) < 10.0):
            return f"rates: erosion error median {np.median(err):.2f}, p90 |err| {np.percentile(np.abs(err), 90):.2f}"
        return None

    def _check_aoi(self, out):
        """Each row's n_inside equals a direct count of its vertices in
        its square, and each shoreline's vertices fall in exactly one
        square (the grid tiles the domain)."""
        if len(out) == 0:
            return "aoi: empty output"
        per_line: dict[tuple, list[int]] = {}
        for tx, ty, year, g, aid, n_in, n_tot in zip(
            out["tile_x"], out["tile_y"], out["year"], out["geometry"],
            out["aoi_id"], out["n_inside"], out["n_vertices_total"],
        ):
            c = wkb.coords_of(bytes(g))
            a, b, a1, b1 = self.aoi_bounds[int(aid)]
            want = int(((c[:, 0] > a) & (c[:, 0] < a1) & (c[:, 1] > b) & (c[:, 1] < b1)).sum())
            if want != n_in or n_tot != len(c):
                return f"aoi {aid}: n_inside {n_in} != {want}"
            acc = per_line.setdefault((tx, ty, year, bytes(g)), [0, int(n_tot)])
            acc[0] += int(n_in)
        if any(n_in != n_tot for n_in, n_tot in per_line.values()):
            return "aoi: a shoreline's vertices are not split exactly over the grid"
        return None

    def work_items(self):
        return self.n_comp

    def layered_op(self, i, tr):
        with tr.build("sources.scan"):
            comps = SnapshotTable(self.spark, self.table).read().persist(
                StorageLevel.MEMORY_AND_DISK
            )
        with tr.span("sources.scan"):
            materialize(comps)
        with tr.build("contours"):
            sl = cont_op.shorelines(comps).persist(StorageLevel.MEMORY_AND_DISK)
        with tr.span("contours"):
            materialize(sl)
        with tr.build("rates.baseline_points"):
            pts = rates_op.baseline_points(sl, self.baseline_year).persist()
        with tr.span("rates.baseline_points"):
            materialize(pts)
        with tr.build("rates.annual_nearest"):
            nearest = rates_op.annual_nearest(pts, sl).persist()
        with tr.span("rates.annual_nearest"):
            materialize(nearest)
        with tr.build("rates.signed_distances"):
            signed = rates_op.signed_distances(nearest, comps, self.baseline_year).persist()
        with tr.span("rates.signed_distances"):
            materialize(signed)
        with tr.build("rates.regression"):
            cert = self._certain(signed)
        with tr.span("rates.regression"):
            rates = cert.toPandas()
        with tr.build("spatial_join"):
            aoi_df = shorelines_in_aoi(sl, self.aoi)
        with tr.span("spatial_join"):
            in_aoi = aoi_df.toPandas()
        with tr.aux():
            nv = nearest.agg(
                F.count("*").alias("n"),
                F.sum((~F.isnan("dist_raw") & F.col("dist_raw").isNotNull()).cast("long")).alias("v"),
            ).collect()[0]
            lines = sl.select("geometry").toPandas()
            n_sl = sl.agg(F.sum("n_vertices")).collect()[0][0] or 0
            for df in (signed, nearest, pts, sl, comps):
                df.unpersist()
        tr.count("rates.nearest_valid_frac", (nv.v or 0) / max(1, nv.n))
        tr.count("rates.points_out", len(rates))
        tr.count("contours.vertices_out", n_sl)
        cand = self._candidates(lines)
        hits = int(in_aoi["n_inside"].sum()) if len(in_aoi) else 0
        tr.count("spatial_join.candidates", cand)
        tr.count("spatial_join.hits", hits)
        tr.count("spatial_join.hit_frac", hits / max(1, cand))
        return rates, in_aoi

    def _candidates(self, lines) -> int:
        """(vertex, AOI) pairs the cell cover passes to the exact test:
        AOIs whose bbox cover at AOI_RES holds the vertex's cell."""
        per_cell: dict[int, int] = {}
        for a, b, a1, b1 in self.aoi_bounds:
            for c in cells.polyfill_bbox(a, b, a1, b1, self.AOI_RES):
                per_cell[int(c)] = per_cell.get(int(c), 0) + 1
        if len(lines) == 0:
            return 0
        xy = np.vstack([wkb.coords_of(bytes(g)) for g in lines["geometry"]])
        vc = cells.xy_to_cell(xy[:, 0], xy[:, 1], self.AOI_RES)
        return int(sum(per_cell.get(int(c), 0) for c in vc))


class AppendResume(Workload):
    """jobs/run_shorelines.py with writes beside reads: each op appends
    a batch of new cells to the tile table, resumes the checkpointed
    shoreline stage (completed cells are skipped) and overwrites the
    new cells' partitions of the output table. The tiles are the raster
    CLI's dense shape: 256 px, many observations per year, so decode,
    tide filter and median composite are a large share of each stage."""

    name = "append_resume"
    CELL_RES = 10  # write_tiles' default cell resolution: the resume key

    def __init__(self, *a):
        super().__init__(*a)
        self.cols = self.cfg["cols_per_batch"]
        self.max_batches = self.cfg["max_batches"]
        # 8192 m tile cores, one per 8192 m res-10 cell (halo corners
        # 44 m inside the cell), so every batch of tile columns holds
        # whole cells and all batches are the same size
        px = self.cfg["tile_px"]
        self.spec = corpus.CorpusSpec(
            tile_px=px, halo_px=8, res_m=8192.0 / px, x0_m=300.0, y0_m=-4096.0,
            tiles_x=self.cols * (self.max_batches + 1), tiles_y=2,
            year0=2000, year1=self.cfg["year1"], obs_per_year=6, seed=self.seed,
        )
        self.tide_med = _kept_tide_medians(self.spec)
        self.tiles_per_batch = (
            self.cols * self.spec.tiles_y * len(self.spec.years) * self.spec.obs_per_year
        )

    def _batch_cells(self, b: int) -> list[int]:
        """Res-10 cell ids of batch b, from the tiles' halo corners (the
        point write_tiles keys a tile by)."""
        out = set()
        for tx in range(self.cols * b, self.cols * (b + 1)):
            for ty in range(self.spec.tiles_y):
                x, y = self.spec.tile_origin(tx, ty)
                hx = x - self.spec.halo_px * self.spec.res_m
                hy = y + (self.spec.tile_px + self.spec.halo_px) * self.spec.res_m
                out.add(int(cells.xy_to_cell(np.array([hx]), np.array([hy]), self.CELL_RES)[0]))
        return sorted(out)

    def input_parts(self):
        """One file per batch of tile columns."""
        return [
            (f"batch={b}/part-0.parquet", self.spec,
             [k for k in corpus.iter_keys(self.spec) if k[0] // self.cols == b])
            for b in range(self.max_batches + 1)
        ]

    def _batch(self, b):
        return self.spark.read.parquet(f"{self.inputs}/batch={b}")

    def setup(self, k):
        """A fresh tile table holding batch 0, and empty checkpoint and
        output locations."""
        for sub in ("tiles", "ckpt", "out"):
            shutil.rmtree(os.path.join(self.work, sub), ignore_errors=True)
        self.tiles = os.path.join(self.work, "tiles")
        self.ckpt = CheckpointedPipeline(self.spark, os.path.join(self.work, "ckpt"))
        self.out = SnapshotTable(self.spark, os.path.join(self.work, "out"))
        write_tiles(self._batch(0), self.tiles)
        self.next_batch = 1

    def exhausted(self) -> bool:
        return self.next_batch > self.max_batches

    @staticmethod
    def _rekeyed(todo, shorelines):
        """Shoreline rows keyed by their input tile's cell.

        run_stage partitions a stage's output by key_cols read from the
        OUTPUT rows. A shoreline row's own cell_id is the res-11 cell of
        its midpoint, not the res-10 tile cell the stage resumes by; a
        res-11 cell near a tile seam can hold rows of two batches, and
        the later batch's partition overwrite would then drop the
        earlier batch's rows. Keying by the tile cell rules that out and
        gives the output table one partition per tile cell, so each op
        overwrites only its new cells. The shoreline's own cell is kept
        as sl_cell_id."""
        tile_cells = todo.select("tile_x", "tile_y", "cell_id").distinct()
        return shorelines.withColumnRenamed("cell_id", "sl_cell_id").join(
            F.broadcast(tile_cells), ["tile_x", "tile_y"]
        )

    def _stage_fn(self, todo):
        return self._rekeyed(todo, shoreline_pipeline(todo))

    def _new_cells(self, b):
        """Cells the op appending batch b computes: the first op also
        computes set-up's batch 0."""
        return (self._batch_cells(0) if b == 1 else []) + self._batch_cells(b)

    def op(self, i):
        b = self.next_batch
        self.next_batch += 1
        write_tiles(self._batch(b), self.tiles, mode="append")
        tiles = read_tiles(self.spark, self.tiles)
        stage = self.ckpt.run_stage(
            "shorelines", tiles, key_cols=["cell_id"], fn=self._stage_fn
        )
        new_cells = self._new_cells(b)
        self._write_out(stage, new_cells)
        return new_cells

    def _write_out(self, stage, new_cells):
        keys = [str(c) for c in new_cells]
        rows = stage.filter(F.col("cell_key").isin(keys)).drop("cell_key")
        if self.out.current_version() == 0:
            self.out.create(rows, partition_by=["cell_id"])
        else:
            self.out.overwrite_partitions(rows)

    def check(self, i, new_cells):
        """The new cells' output: shorelines on the closed-form coast."""
        sl = self.out.read(where={"cell_id": new_cells}).toPandas()
        got = set(int(c) for c in sl["cell_id"].unique())
        # tiles of the second row hold no coast, so their cells have no rows
        if not got or not got <= set(new_cells):
            return f"output cells {sorted(got)} are not among committed {new_cells}"
        return check_against_coast(self.spec, self.tide_med, sl)

    def final_check(self):
        """The output table equals one shoreline_pipeline over every
        committed tile (an order-insensitive comparison of all rows)."""
        cols = [
            "cell_id", "sl_cell_id", "tile_x", "tile_y", "year",
            "geometry", "n_vertices", "length_m", "certainty",
        ]
        got = self.out.read().select(*cols).toPandas()
        want = self._stage_fn(read_tiles(self.spark, self.tiles)).select(*cols).toPandas()

        def rows(pdf):
            return sorted(
                tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
                for r in pdf.itertuples(index=False)
            )

        if rows(got) != rows(want):
            return f"output table ({len(got)} rows) != one-shot pipeline ({len(want)} rows)"
        return None

    def work_items(self):
        return self.tiles_per_batch

    def layered_op(self, i, tr):
        b = self.next_batch
        self.next_batch += 1
        tr.watch_writes([self.tiles, self.ckpt.base, self.out.path])
        with tr.span("sources.append"):
            write_tiles(self._batch(b), self.tiles, mode="append")
        with tr.build("sources.scan"):
            tiles = read_tiles(self.spark, self.tiles).persist(StorageLevel.MEMORY_AND_DISK)
        with tr.span("sources.scan"):
            materialize(tiles)
        with tr.span("codecs.decode", diagnostic=True):
            px = _decode_pass(self._batch(b))
        with tr.aux():
            n_keys = tiles.select("cell_id").distinct().count()
            done_before = self.ckpt.completed_keys("shorelines").count()
        made = []

        def layered_fn(todo):
            # shoreline_pipeline's two layers, each materialized under
            # its own group; run_stage then writes the cached rows. The
            # counts are taken here: run_stage's lineage commit changes
            # todo, and Spark recomputes caches whose inputs are written.
            with tr.build("composite"):
                comps = comp_op.annual_composites(todo).persist(StorageLevel.MEMORY_AND_DISK)
            with tr.span("composite"):
                materialize(comps)
            with tr.build("contours"):
                sl = cont_op.shorelines(comps).persist(StorageLevel.MEMORY_AND_DISK)
            with tr.span("contours"):
                materialize(sl)
            with tr.aux():
                kept = comps.agg(F.sum("n_obs")).collect()[0][0] or 0
                verts = sl.agg(F.sum("n_vertices")).collect()[0][0] or 0
                tr.count("composite.tide_kept_frac", kept / self.tiles_per_batch)
                tr.count("contours.vertices_out", verts)
            made.extend([comps, sl])
            with tr.build("checkpoint.run_stage"):
                return self._rekeyed(todo, sl)

        with tr.span("checkpoint.run_stage"):
            stage = self.ckpt.run_stage(
                "shorelines", tiles, key_cols=["cell_id"], fn=layered_fn
            )
        new_cells = self._new_cells(b)
        with tr.span("sources.overwrite"):
            self._write_out(stage, new_cells)
        with tr.aux():
            for df in [*made, tiles]:
                df.unpersist()
        tr.collect_writes()
        tr.count("codecs.mpix", px / 1e6)
        tr.count("checkpoint.keys_skipped_frac", done_before / max(1, n_keys))
        return new_cells


WORKLOADS = {w.name: w for w in (AppendResume, RatesAoi)}
