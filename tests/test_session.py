"""The engine's Arrow batch contract.

A mixed tabular/multimodal engine needs two independent caps (Spark 4
semantics: a batch closes when EITHER cap hits):

  * maxBytesPerBatch bounds UDF-input batches by BYTES, so fat image
    rows (~100 KB encoded tile each) can never form multi-GB batches —
    the executor-OOM guard at cluster scale;
  * maxRecordsPerBatch is 65,536 (get_spark; spark-submit jobs keep
    Spark's 10k default), so thin tabular rows and toPandas transfers
    (which the byte cap does NOT govern) are not throttled — an earlier
    global 256-record cap made a 1.9 M-row collect 100x slower than the
    query that produced it.

These tests pin the contract behaviorally (actual batch sizes seen by
a mapInPandas kernel), not just the conf strings, for both session
factories (get_spark for local/test/bench, submit_session for the
spark-submit jobs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _batch_sizes(spark, df):
    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    return [
        int(r.n) for r in df.mapInPandas(kernel, "n int").collect()
    ]


def test_fat_rows_are_byte_bounded(spark):
    """Rows carrying ~100 KB payloads must batch by bytes: every batch
    but a partition's last stays under maxBytesPerBatch and none reaches
    even Spark's 10k default record cap (the session's is 65,536)."""
    max_bytes = int(spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch"))
    row_bytes = 100_000
    n_rows = 2_000
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n_rows, dtype=np.int64),
            # incompressible payload: Arrow buffer size ~= logical size
            "payload": [rng.bytes(row_bytes) for _ in range(n_rows)],
        }
    )
    sizes = _batch_sizes(spark, spark.createDataFrame(pdf).repartition(2))
    assert sum(sizes) == n_rows
    # byte cap ~= max_bytes / row_bytes rows per batch (+1 row slack:
    # the cap closes the batch when crossed, not before)
    cap_rows = max_bytes // row_bytes + 1
    assert max(sizes) <= cap_rows, (max(sizes), cap_rows)
    # and the cap is actually binding: batches are much smaller than
    # the record cap, and more than one batch per partition forms
    assert max(sizes) < 10_000
    assert len(sizes) > 2


def test_thin_rows_are_not_throttled(spark):
    """Thin rows must reach the record cap — a regression to a small
    record cap would re-introduce the per-batch overhead tax on every
    tabular kernel and collect."""
    rec_cap = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert rec_cap >= 10_000
    # each partition must hold MORE than rec_cap rows, or the batch
    # closes on partition exhaustion instead of the record cap
    sizes = _batch_sizes(spark, spark.range(2 * 2 * rec_cap).repartition(2))
    assert max(sizes) == rec_cap


def test_submit_session_applies_defaults_and_yields_to_existing(spark):
    """submit_session must reuse a live session (in-process callers)
    and carry the same Arrow contract keys in its defaults."""
    from dea_coastlines_spark.session import _SUBMIT_DEFAULTS, submit_session

    s2 = submit_session("contract-check")
    assert s2.sparkContext is spark.sparkContext
    assert "spark.sql.execution.arrow.maxBytesPerBatch" in _SUBMIT_DEFAULTS
    assert (
        _SUBMIT_DEFAULTS["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    )
    # the byte cap ships a sane bound: positive, and small enough that
    # a 100 KB-row batch stays well under a GB
    assert 0 < int(
        _SUBMIT_DEFAULTS["spark.sql.execution.arrow.maxBytesPerBatch"]
    ) <= 256 * 1024 * 1024


def test_workers_run_engine_daemon_and_import_late_py_files(spark, tmp_path):
    """Python workers start from the engine's daemon, and a `.py` and a
    `.zip` shipped with addPyFile after the workers are warm still
    import inside a kernel: the daemon's zip importers skip only
    re-reads of unchanged archives."""
    import zipfile

    sc = spark.sparkContext
    assert (
        sc.getConf().get("spark.python.daemon.module")
        == "dea_coastlines_spark.pydaemon"
    )

    def patched_by(batches):
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"f": [code.co_filename]})

    one = spark.range(1, numPartitions=1)
    warm = one.mapInPandas(patched_by, "f string").collect()
    assert warm[0].f.endswith("pydaemon.py")

    py = tmp_path / "dcs_late_py.py"
    py.write_text("VALUE = 11\n")
    zpath = tmp_path / "dcs_late_zip.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("dcs_late_zip/__init__.py", "VALUE = 31\n")
    sc.addPyFile(str(py))
    sc.addPyFile(str(zpath))

    def late_imports(batches):
        import dcs_late_py
        import dcs_late_zip

        for _ in batches:
            yield pd.DataFrame({"v": [dcs_late_py.VALUE + dcs_late_zip.VALUE]})

    assert one.mapInPandas(late_imports, "v long").collect()[0].v == 42
