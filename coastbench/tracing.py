"""Traced pass: spans around each layer's public call, and the Spark
event log folded per job group.

A layered op runs each layer under its own job group named
`<layer>#<op>` and materializes the layer's output before the next
layer starts, so the group's wall time and its stages belong to that
layer alone. `aux#<op>` groups hold the benchmark's own bookkeeping
queries; they are excluded from the op's time. Plain (unlayered) ops
run under `op#<op>`.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark SQL metric names of the Python boundary, as the event log
# records them on each completed stage.
_PY_RUN_MS = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Per-op spans, build times and counts of one layered op."""

    def __init__(self, sc):
        self.sc = sc
        self.i = -1

    def start(self, i: int) -> None:
        self.i = i
        self.spans: dict[str, float] = defaultdict(float)
        self.kinds: dict[str, str] = {}
        self.build_s = 0.0
        self._top_build_s = 0.0  # builds outside every span
        self._open = 0
        self.aux_s = 0.0
        self.counts: dict[str, float] = {}
        self._watch: list[str] = []

    def _group(self, name: str) -> None:
        g = f"{name}#{self.i}"
        self.sc.setJobGroup(g, g)

    @contextmanager
    def span(self, layer: str, diagnostic: bool = False):
        """Wall time of materializing one layer's output.

        A span opened inside another is "nested": its time is part of
        its parent's and is not summed twice. A "diagnostic" span is an
        extra pass that is not part of the op."""
        kind = "diagnostic" if diagnostic else "nested" if self._open else None
        self._group(layer)
        self._open += 1
        aux0 = self.aux_s
        t = time.perf_counter()
        try:
            yield
        finally:
            self._open -= 1
            # bookkeeping run inside the span is not the layer's time
            self.spans[layer] += time.perf_counter() - t - (self.aux_s - aux0)
            if kind:
                self.kinds[layer] = kind

    @contextmanager
    def build(self, layer: str):
        """Wall time of a call that only builds a DataFrame plan."""
        self._group(layer)
        t = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t
            self.build_s += dt
            if not self._open:
                self._top_build_s += dt

    @contextmanager
    def aux(self):
        """The benchmark's own queries; not part of the op."""
        self._group("aux")
        t = time.perf_counter()
        try:
            yield
        finally:
            self.aux_s += time.perf_counter() - t

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    def watch_writes(self, paths: list[str]) -> None:
        self._watch = list(paths)
        self._watch_t = time.time()

    def collect_writes(self) -> None:
        """Files (and their bytes) written under the watched paths."""
        n = size = 0
        for root in self._watch:
            for d, _, names in os.walk(root):
                for nm in names:
                    st = os.stat(os.path.join(d, nm))
                    if st.st_mtime >= self._watch_t:
                        n += 1
                        size += st.st_size
        self.counts["sources.files_written"] = n
        self.counts["sources.bytes_written"] = size

    def excluded_s(self) -> float:
        """Time in the op that is not the op's own work: bookkeeping
        queries and diagnostic passes such as the decode-only pass."""
        return self.aux_s + sum(
            v for k, v in self.spans.items() if self.kinds.get(k) == "diagnostic"
        )

    def accounted_s(self) -> float:
        """Time inside top-level layer spans and plan builds."""
        return self._top_build_s + sum(
            v for k, v in self.spans.items() if k not in self.kinds
        )


def fold_event_log(log_dir: str) -> dict[tuple[str, int], dict[str, float]]:
    """Per (group name, op) totals from the finished event log: jobs,
    stages, task failures, GC, spill, Python-worker time and bytes,
    shuffle bytes written."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_group: dict[int, tuple[str, int]] = {}
    out: dict[tuple[str, int], dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def key_of(props):
        g = (props or {}).get("spark.jobGroup.id") or ""
        name, _, i = g.rpartition("#")
        return (name, int(i)) if name and i.isdigit() else None

    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                k = key_of(ev.get("Properties"))
                if k:
                    out[k]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                k = key_of(ev.get("Properties"))
                if k:
                    stage_group[ev["Stage Info"]["Stage ID"]] = k
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                k = stage_group.get(info["Stage ID"])
                if not k:
                    continue
                rec = out[k]
                rec["stages"] += 1
                for acc in info.get("Accumulables", []):
                    name, val = acc.get("Name"), acc.get("Value")
                    if name in (_PY_RUN_MS, _PY_SENT, _SHUFFLE_WRITE):
                        rec[name] += float(val)
            elif kind == "SparkListenerTaskEnd":
                k = stage_group.get(ev["Stage ID"])
                if not k:
                    continue
                rec = out[k]
                if ev["Task End Reason"]["Reason"] != "Success":
                    rec["task_failures"] += 1
                tm = ev.get("Task Metrics") or {}
                rec["gc_ms"] += tm.get("JVM GC Time", 0)
                rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
    return out


# Per-layer metrics, in the order BENCHMARK.json lists them.
PER_LAYER = [
    ("codecs.decode_s", "s"),
    ("codecs.mpix_per_s", "Mpix/s"),
    ("composite.s", "s"),
    ("composite.py_worker_s", "s"),
    ("composite.bytes_to_py", "bytes"),
    ("composite.shuffle_write_bytes", "bytes"),
    ("composite.tide_kept_frac", "frac"),
    ("contours.s", "s"),
    ("contours.py_worker_s", "s"),
    ("contours.vertices_out", "count"),
    ("rates.baseline_points_s", "s"),
    ("rates.annual_nearest_s", "s"),
    ("rates.signed_distances_s", "s"),
    ("rates.regression_s", "s"),
    ("rates.nearest_valid_frac", "frac"),
    ("rates.points_out", "count"),
    ("spatial_join.s", "s"),
    ("spatial_join.candidates", "count"),
    ("spatial_join.hits", "count"),
    ("spatial_join.hit_frac", "frac"),
    ("spatial_join.shuffle_write_bytes", "bytes"),
    ("sources.scan_s", "s"),
    ("sources.append_s", "s"),
    ("sources.overwrite_s", "s"),
    ("sources.files_written", "count"),
    ("sources.bytes_written", "bytes"),
    ("checkpoint.run_stage_s", "s"),
    ("checkpoint.keys_skipped_frac", "frac"),
    ("plans.build_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.task_failures", "count"),
    ("trace.overhead_frac", "frac"),
    ("trace.unaccounted_frac", "frac"),
]

# span name -> its wall-time metric
_SPAN_METRIC = {
    "codecs.decode": "codecs.decode_s",
    "composite": "composite.s",
    "contours": "contours.s",
    "rates.baseline_points": "rates.baseline_points_s",
    "rates.annual_nearest": "rates.annual_nearest_s",
    "rates.signed_distances": "rates.signed_distances_s",
    "rates.regression": "rates.regression_s",
    "spatial_join": "spatial_join.s",
    "sources.scan": "sources.scan_s",
    "sources.append": "sources.append_s",
    "sources.overwrite": "sources.overwrite_s",
    "checkpoint.run_stage": "checkpoint.run_stage_s",
}


def per_layer_metrics(layered: list[dict], plain_s: list[float], events) -> dict:
    """Medians over the layered ops of every per-layer metric (0 where
    the layer does not run in this workload).

    layered: one record per layered op: its index `i`, wall `total_s`
    (bookkeeping excluded), `accounted_s`, `spans`, `build_s`, `counts`.
    plain_s: wall times of the plain ops run beside them.
    events: fold_event_log's output."""
    vals: dict[str, list[float]] = defaultdict(list)
    for rec in layered:
        i = rec["i"]
        row = {m: 0.0 for m, _ in PER_LAYER}
        for span, s in rec["spans"].items():
            row[_SPAN_METRIC[span]] = s
        row.update(rec["counts"])
        mpix = row.pop("codecs.mpix", 0.0)
        if row["codecs.decode_s"] > 0:
            row["codecs.mpix_per_s"] = mpix / row["codecs.decode_s"]
        for layer in ("composite", "contours"):
            ev = events.get((layer, i), {})
            row[f"{layer}.py_worker_s"] = ev.get(_PY_RUN_MS, 0.0) / 1000.0
        row["composite.bytes_to_py"] = events.get(("composite", i), {}).get(_PY_SENT, 0.0)
        for layer in ("composite", "spatial_join"):
            row[f"{layer}.shuffle_write_bytes"] = events.get((layer, i), {}).get(
                _SHUFFLE_WRITE, 0.0
            )
        row["plans.build_s"] = rec["build_s"]
        row["trace.unaccounted_frac"] = (rec["total_s"] - rec["accounted_s"]) / rec["total_s"]
        for m, v in row.items():
            vals[m].append(float(v))
    out = {m: statistics.median(v) for m, v in vals.items()}
    # Spark-wide counts come from the warm plain ops: they describe the
    # op as users run it, not its layered form.
    plain = [v for (g, i), v in events.items() if g == "op" and i > 0]
    for m, key, scale in (
        ("spark.jobs", "jobs", 1.0),
        ("spark.stages", "stages", 1.0),
        ("spark.gc_s", "gc_ms", 1e-3),
        ("spark.spill_bytes", "spill_bytes", 1.0),
        ("spark.task_failures", "task_failures", 1.0),
    ):
        out[m] = statistics.median([p.get(key, 0.0) * scale for p in plain]) if plain else 0.0
    out["trace.overhead_frac"] = (
        statistics.median([r["total_s"] for r in layered]) / statistics.median(plain_s) - 1.0
    )
    return out
