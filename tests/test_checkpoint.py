"""Kill-and-resume test (SURVEY.md §5): a restarted job skips completed
cells and produces identical output."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dea_coastlines_spark.operators import composite as comp_op
from dea_coastlines_spark.plans.checkpoint import CheckpointedPipeline
from dea_coastlines_spark.synth import corpus

SPEC = corpus.CorpusSpec(
    tile_px=48, halo_px=4, tiles_x=3, tiles_y=1,
    year0=2000, year1=2001, obs_per_year=3, cloud_frac=0.0, seed=13,
)


@pytest.fixture()
def base_dir():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_resume_skips_completed_cells(spark, base_dir):
    tiles = comp_op.with_caption(spark.createDataFrame(corpus.generate_pandas(SPEC)))
    calls: list[list[str]] = []

    def stage_fn(todo):
        keys = sorted(
            f"{r.tile_x}|{r.tile_y}"
            for r in todo.select("tile_x", "tile_y").distinct().collect()
        )
        calls.append(keys)
        return comp_op.annual_composites(todo, apply_tide_filter=False)

    # "killed" first run: only tile_x=0 was processed
    part = tiles.filter(F.col("image_id").startswith("t000_"))
    p1 = CheckpointedPipeline(spark, base_dir)
    p1.run_stage("composites", part, ["tile_x", "tile_y"], stage_fn)
    assert calls[-1] == ["0|0"]
    lin1 = p1.lineage().toPandas()
    assert set(lin1.cell_key) == {"0|0"} and (lin1.stage == "composites").all()

    # resumed full run: only the remaining tiles are computed
    p2 = CheckpointedPipeline(spark, base_dir)
    out = p2.run_stage("composites", tiles, ["tile_x", "tile_y"], stage_fn)
    assert calls[-1] == ["1|0", "2|0"]
    got = out.select("tile_x", "tile_y", "year").toPandas()
    assert len(got) == SPEC.tiles_x * SPEC.tiles_y * len(SPEC.years)

    # third run: nothing to do, stage_fn not invoked
    n_calls = len(calls)
    p3 = CheckpointedPipeline(spark, base_dir)
    out3 = p3.run_stage("composites", tiles, ["tile_x", "tile_y"], stage_fn)
    assert len(calls) == n_calls
    assert out3.count() == out.count()

    # metrics recorded per key
    m = p3.metrics().toPandas()
    assert set(m.cell_key) == {"0|0", "1|0", "2|0"}
    assert (m.n_rows == len(SPEC.years)).all()
    assert m.completed_at.notna().all()


def test_empty_todo_on_fresh_dir_returns_empty_frame(spark, base_dir):
    """A fresh checkpoint dir with a zero-row input must return an
    empty DataFrame with the stage schema, not die reading a parquet
    path that was never created."""
    tiles = comp_op.with_caption(
        spark.createDataFrame(corpus.generate_pandas(SPEC))
    ).limit(0)
    p = CheckpointedPipeline(spark, base_dir)
    out = p.run_stage(
        "composites", tiles, ["tile_x", "tile_y"],
        lambda todo: comp_op.annual_composites(todo, apply_tide_filter=False),
    )
    assert out.count() == 0
    assert "cell_key" in out.columns


def test_resumed_output_matches_uninterrupted(spark, base_dir):
    tiles = comp_op.with_caption(spark.createDataFrame(corpus.generate_pandas(SPEC)))

    def stage_fn(todo):
        return comp_op.annual_composites(todo, apply_tide_filter=False)

    # interrupted-then-resumed
    part = tiles.filter(F.col("image_id").startswith("t000_"))
    CheckpointedPipeline(spark, base_dir).run_stage("c", part, ["tile_x", "tile_y"], stage_fn)
    resumed = (
        CheckpointedPipeline(spark, base_dir)
        .run_stage("c", tiles, ["tile_x", "tile_y"], stage_fn)
        .select("tile_x", "tile_y", "year", F.md5(F.col("mndwi_bytes")).alias("h"))
        .toPandas().sort_values(["tile_x", "tile_y", "year"]).reset_index(drop=True)
    )
    # uninterrupted oracle
    clean = (
        comp_op.annual_composites(tiles, apply_tide_filter=False)
        .select("tile_x", "tile_y", "year", F.md5(F.col("mndwi_bytes")).alias("h"))
        .toPandas().sort_values(["tile_x", "tile_y", "year"]).reset_index(drop=True)
    )
    assert resumed.equals(clean)


def test_batched_commits_and_crash_window_idempotence(spark, base_dir):
    """batch_keys=1 commits per cell; a crash BETWEEN the data write and
    the lineage append (the only non-atomic window) re-runs that cell
    idempotently — dynamic partition overwrite replaces the orphan
    partition instead of appending a duplicate copy."""
    tiles = comp_op.with_caption(
        spark.createDataFrame(corpus.generate_pandas(SPEC))
    )
    calls: list[int] = []

    def stage_fn(todo):
        calls.append(
            todo.select("tile_x", "tile_y").distinct().count()
        )
        return comp_op.annual_composites(todo, apply_tide_filter=False)

    # interrupted run: process the first cell only, then "die" after its
    # data landed but BEFORE its lineage row was appended
    p1 = CheckpointedPipeline(spark, base_dir)

    class Boom(RuntimeError):
        pass

    orig_append = p1._append_lineage
    state = {"first": True}

    def dying_append(rows):
        if state["first"]:
            state["first"] = False
            raise Boom()  # crash in the write->lineage window
        orig_append(rows)

    p1._append_lineage = dying_append
    with pytest.raises(Boom):
        p1.run_stage("comp", tiles, ["tile_x", "tile_y"], stage_fn,
                     batch_keys=1)
    assert calls == [1]  # exactly one cell was processed before the kill
    # orphan data exists for that cell, no lineage
    assert p1.completed_keys("comp").count() == 0

    # resumed run: all 3 cells are todo again (no lineage); per-cell
    # batches mean 3 calls of 1 cell each; the orphan partition is
    # REPLACED, not duplicated
    p2 = CheckpointedPipeline(spark, base_dir)
    out = p2.run_stage("comp", tiles, ["tile_x", "tile_y"], stage_fn,
                       batch_keys=1)
    assert calls == [1, 1, 1, 1]
    assert p2.completed_keys("comp").count() == 3
    # duplicate check: one composite row per (tile, year)
    n_keys = out.select("tile_x", "tile_y", "year").distinct().count()
    assert out.count() == n_keys == 3 * len(SPEC.years)

    # a third run has nothing to do and returns identical output
    p3 = CheckpointedPipeline(spark, base_dir)
    out3 = p3.run_stage("comp", tiles, ["tile_x", "tile_y"], stage_fn,
                        batch_keys=1)
    assert calls == [1, 1, 1, 1]  # no new fn invocations
    assert out3.count() == out.count()


def test_stage_output_keys_must_be_input_keys(spark, base_dir):
    """Shoreline rows carry the res-11 cell of their midpoint, tiles the
    res-10 cell of their corner: a stage keyed by cell_id must fail
    before writing anything, instead of recording n_rows 0 for every
    input key. Keyed by tile, every row is committed under its tile."""
    from dea_coastlines_spark.plans.pipeline import shoreline_pipeline
    from dea_coastlines_spark.sources.tiles import with_tile_meta

    # two tile rows so the coast crosses a tile (tile 1|1 holds it)
    spec = corpus.CorpusSpec(
        tile_px=48, halo_px=4, tiles_x=2, tiles_y=2,
        year0=2000, year1=2001, obs_per_year=3, cloud_frac=0.0, seed=13,
    )
    tiles = with_tile_meta(spark.createDataFrame(corpus.generate_pandas(spec)))
    p = CheckpointedPipeline(spark, base_dir)
    with pytest.raises(ValueError, match="not among the batch's input keys"):
        p.run_stage("sl", tiles, ["cell_id"], shoreline_pipeline)
    assert not os.path.exists(os.path.join(base_dir, "sl"))
    assert p.completed_keys("sl").count() == 0

    out = p.run_stage("sl", tiles, ["tile_x", "tile_y"], shoreline_pipeline)
    n_out = out.count()
    assert n_out > 0
    m = p.metrics().toPandas()
    assert set(m.cell_key) == {"0|0", "0|1", "1|0", "1|1"}
    assert m.n_rows.sum() == n_out
