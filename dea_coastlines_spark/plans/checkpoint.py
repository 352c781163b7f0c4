"""Per-partition checkpoint/lineage: resume-by-skip for killed jobs.

Generalizes the reference's `run_completed` marker files
(coastlines/raster.py:716-725,749-754; vector.py:1791-1800) into a
lineage TABLE: every completed (cell_key, stage) appends a row with
metrics; a restarted job anti-joins its work list against the lineage
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

Layout under `base_dir`:
    _lineage/            parquet append: cell_key, stage, n_rows,
                         metrics_json, run_id, completed_at
    <stage>/key=<k>/     parquet output per completed key

Stages must be key-separable (outputs for one cell depend only on that
cell's inputs) — true for every per-tile stage in this engine; the
reference's per-tile CLI founds the same assumption.
"""

from __future__ import annotations

import json
import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "cell_key string, stage string, n_rows long, metrics_json string, "
    "run_id string, completed_at timestamp"
)


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir.rstrip("/")
        self.run_id = uuid.uuid4().hex[:12]

    # ------------------------------------------------------------- lineage

    def lineage(self) -> DataFrame:
        try:
            return self.spark.read.parquet(f"{self.base}/_lineage")
        except Exception:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    def completed_keys(self, stage: str) -> DataFrame:
        return (
            self.lineage()
            .filter(F.col("stage") == stage)
            .select("cell_key")
            .distinct()
        )

    def _append_lineage(self, rows: list[dict]) -> None:
        if not rows:
            return
        df = self.spark.createDataFrame(rows, LINEAGE_SCHEMA).withColumn(
            "completed_at", F.current_timestamp()
        )
        df.write.mode("append").parquet(f"{self.base}/_lineage")

    # --------------------------------------------------------------- stages

    def run_stage(
        self,
        stage: str,
        inputs: DataFrame,
        key_cols: list[str],
        fn,
        batch_keys: int | None = None,
    ) -> DataFrame:
        """Run `fn(todo_inputs) -> DataFrame` for keys not yet completed;
        persist per-key outputs; return the stage's FULL output (completed
        + new). Keys are serialized as 'a|b' strings in `cell_key`.

        batch_keys: commit granularity. None = one commit for the whole
        todo set (lowest overhead); k = process todo keys in sorted
        groups of k, committing data + lineage per group, so a job
        killed mid-stage resumes at the last completed group instead of
        recomputing everything (north-rule kill-resume semantics). At
        cluster scale a few hundred cells per batch amortizes the
        lineage append while bounding recompute-after-kill.

        Crash consistency: data lands with DYNAMIC PARTITION OVERWRITE
        (per-cell_key directories replaced, never appended), then the
        lineage row commits. A kill between the two re-runs that batch
        idempotently — the overwrite replaces the orphaned partitions
        instead of duplicating rows.

        fn must pass `key_cols` through unchanged: every output row's
        key must be one of its batch's input keys, else ValueError
        (raised before the batch writes anything)."""
        if batch_keys is not None and batch_keys < 1:
            raise ValueError(f"batch_keys must be >= 1, got {batch_keys}")
        key_expr = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
        inputs_k = inputs.withColumn("cell_key", key_expr)
        done = self.completed_keys(stage)
        todo = inputs_k.join(F.broadcast(done), "cell_key", "left_anti")

        all_todo = sorted(
            r.cell_key for r in todo.select("cell_key").distinct().collect()
        )
        out_path = f"{self.base}/{stage}"
        groups = (
            [all_todo]
            if not batch_keys
            else [
                all_todo[i : i + batch_keys]
                for i in range(0, len(all_todo), batch_keys)
            ]
        )
        for group in groups:
            if not group:
                continue
            sub = (
                todo
                if len(groups) == 1
                else todo.filter(F.col("cell_key").isin(group))
            )
            out = fn(sub.drop("cell_key"))
            out_k = out.withColumn(
                "cell_key",
                F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols]),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            # persist: the lineage stats materialize the plan ONCE into
            # cache and the write reads the same materialization instead
            # of re-executing fn's whole plan per batch (and unlike a
            # read-back of out_path, this also works when a key
            # legitimately produces zero rows)
            stats = (
                out_k.groupBy("cell_key").agg(F.count("*").alias("n_rows")).collect()
            )
            produced = {r.cell_key: int(r.n_rows) for r in stats}
            # Output keys come from fn's OUTPUT rows. A key that is not
            # one of this batch's input keys (e.g. a column fn recomputes
            # at another resolution) would record n_rows 0 for every
            # input key and write partitions a later batch's dynamic
            # overwrite can clobber — refuse before anything is written.
            stray = sorted(set(produced) - set(group))
            if stray:
                out_k.unpersist()
                raise ValueError(
                    f"stage {stage!r}: output rows carry {key_cols} keys "
                    f"that are not among the batch's input keys "
                    f"(e.g. {stray[:3]}); key the stage by columns fn "
                    f"passes through unchanged"
                )
            (
                out_k.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("cell_key")
                .parquet(out_path)
            )
            out_k.unpersist()
            self._append_lineage(
                [
                    {
                        "cell_key": k,
                        "stage": stage,
                        "n_rows": produced.get(k, 0),
                        "metrics_json": json.dumps({"n_rows": produced.get(k, 0)}),
                        "run_id": self.run_id,
                        "completed_at": None,
                    }
                    for k in group
                ]
            )
        # Fresh checkpoint dir + empty todo set (or every key produced
        # zero rows): out_path was never created, so a blind read would
        # die with path-not-found / cannot-infer-schema. Return an empty
        # frame with the stage's real schema (fn on a limit(0) plan —
        # schema-only, no action) instead.
        import os as _os

        has_data = _os.path.isdir(out_path) and any(
            f.endswith(".parquet")
            for _, _, fs in _os.walk(out_path)
            for f in fs
        )
        if not has_data:
            empty = fn(inputs_k.drop("cell_key").limit(0))
            return empty.withColumn(
                "cell_key",
                F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols]),
            ).limit(0)
        return self.spark.read.parquet(out_path)

    def metrics(self) -> DataFrame:
        """Per-(key, stage) metrics view of the lineage table."""
        return self.lineage().select(
            "cell_key", "stage", "n_rows", "run_id", "completed_at"
        )
