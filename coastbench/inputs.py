"""Input rendering for the workloads, run in worker processes while the
JVM starts. Kept apart from workloads.py so the workers import numpy,
pandas and the corpus generator only."""

from __future__ import annotations

import pandas as pd

from dea_coastlines_spark.synth import corpus


def render_part(spec: corpus.CorpusSpec, keys: list) -> pd.DataFrame:
    """Input tiles in the tiles-table schema."""
    pdf = pd.DataFrame([corpus.make_row(spec, *k) for k in keys])
    return pdf.astype({"w": "int32", "h": "int32", "phash": "int64"})
