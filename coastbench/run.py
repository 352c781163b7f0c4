"""Run one coastline benchmark workload and print its metrics.

    python3 coastbench/run.py --workload shorelines_dense --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout: the engine is imported from
there. One process drives Spark on local[4] in a closed loop (one
client; each op starts when the previous one ends). The seed makes the
inputs; inputs are regenerated in every run, before and outside the
timed set-up. `--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer metrics of a traced pass. The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
Everything the run writes lives under .bench_work/ in the checkout and
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
SETUP_REPEATS = 3

END_TO_END = [
    ("setup_s", "s"),
    ("cold_op_s", "s"),
    ("op_s_p50", "s"),
    ("tiles_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _steal_total() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the driver JVM and the Python workers), sampled every 0.5 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *_descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_ev.wait(0.5):
            self.sample()

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=5)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full",
                   help="toy is the smoke test's size")
    return p.parse_args(argv)


def _start_spark(work: str, trace: bool):
    from dea_coastlines_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        # with a 3 GB heap the JVM's peak resident size varied from 1.3
        # to 2.1 GB between runs; a 2 GB heap fills up in every run
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        from tracing import event_log_conf

        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    spark = get_spark("coastbench", cpus=CPUS, shuffle_partitions=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _start_with_inputs(wl, work: str, trace: bool):
    """Render the workload's inputs in worker processes while the JVM
    starts; returns the session and the seconds spent waiting for the
    inputs once it is up."""
    from inputs import render_part

    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=CPUS - 1, mp_context=ctx) as pool:
        parts = [
            (rel, pool.submit(render_part, spec, keys))
            for rel, spec, keys in wl.input_parts()
        ]
        spark = _start_spark(work, trace)
        _mark("spark started")
        try:
            t = time.perf_counter()
            for rel, fut in parts:
                path = os.path.join(wl.inputs, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                fut.result().to_parquet(path, index=False)
            waited = round(time.perf_counter() - t, 3)
            wl.spark = spark
            wl.prepare()
        except BaseException:
            _stop_spark(spark)
            raise
    return spark, waited


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM it ran in, and wait until the JVM and
    the Python workers it started have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = gw.proc
    kids = _descendants(jvm.pid)
    spark.stop()
    gw.shutdown()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait(timeout=10)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _stop_resource_tracker() -> None:
    """The spawn context leaves multiprocessing's resource-tracker
    process running until interpreter exit; end it with the run."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


class Loop:
    """Closed-loop bookkeeping: times, attempts and failed checks."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.last_failed = False

    def run(self, fn, i):
        """Time fn(i), then check its output outside the timed region.
        Returns the op's wall time and whether it returned (a raised op
        is failed and its time is not a sample)."""
        self.attempted += 1
        self.last_failed = True
        t = time.perf_counter()
        try:
            res = fn(i)
        except Exception:
            self.failed += 1
            print(f"coastbench: op {i} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return time.perf_counter() - t, False
        dt = time.perf_counter() - t
        try:
            err = self.wl.check(i, res)
        except Exception:
            err = traceback.format_exc()
        if err:
            self.failed += 1
            print(f"coastbench: op {i} failed its check: {err}", file=sys.stderr)
        else:
            self.last_failed = False
        return dt, True

    def finish(self):
        """The workload's check after the last op; a failure there fails
        the last op."""
        try:
            err = self.wl.final_check()
        except Exception:
            err = traceback.format_exc()
        if err:
            self.failed += not self.last_failed
            print(f"coastbench: final check failed: {err}", file=sys.stderr)


def _mark(what: str) -> None:
    print(f"coastbench: {what}", file=sys.stderr, flush=True)


def _more(wl, spent: float, seconds: float) -> bool:
    return spent < seconds and not wl.exhausted()


def run_untraced(wl, seconds: float, rss: RssSampler) -> tuple[Loop, dict, dict]:
    setups = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.setup(k)
        setups.append(time.perf_counter() - t)
    _mark("setups done")
    loop = Loop(wl)
    cold, cold_ok = loop.run(wl.op, 0)
    _mark("cold op done")
    warm, spent, i = [], 0.0, 1
    while _more(wl, spent, seconds):
        dt, ok = loop.run(wl.op, i)
        spent += dt
        if ok:
            warm.append(dt)
        i += 1
    _mark("warm ops done")
    loop.finish()
    _mark("final check done")
    if not cold_ok or not warm:
        raise RuntimeError("no successful ops to measure")
    p50 = statistics.median(warm)
    metrics = {
        "setup_s": statistics.median(setups),
        "cold_op_s": cold,
        "op_s_p50": p50,
        "tiles_per_s": wl.work_items() / p50,
        "peak_rss_mb": rss.peak / 2**20,
    }
    info = {"setup_runs_s": setups, "warm_op_s": warm}
    return loop, metrics, info


def run_traced(wl, spark, seconds: float) -> tuple[Loop, list[dict], list[float]]:
    """Alternate plain and layered ops; returns the layered ops' spans
    and the plain ops' times. The event log is read after Spark stops."""
    from tracing import Tracer

    sc = spark.sparkContext
    wl.setup(0)
    loop = Loop(wl)
    tr = Tracer(sc)

    def plain(i):
        sc.setJobGroup(f"op#{i}", f"op#{i}")
        return wl.op(i)

    def layered(i):
        tr.start(i)
        return wl.layered_op(i, tr)

    loop.run(plain, 0)  # the cold op, not measured here
    plain_s, layered_recs, spent, i = [], [], 0.0, 1
    while _more(wl, spent, seconds):
        dt, ok = loop.run(plain, i)
        spent += dt
        if ok:
            plain_s.append(dt)
        i += 1
        if wl.exhausted():
            break
        dt, ok = loop.run(layered, i)
        spent += dt
        if ok:
            total = dt - tr.excluded_s()
            layered_recs.append({
                "i": i, "total_s": total, "accounted_s": tr.accounted_s(),
                "spans": dict(tr.spans), "build_s": tr.build_s,
                "counts": dict(tr.counts),
            })
        i += 1
    loop.finish()
    if not plain_s or not layered_recs:
        raise RuntimeError("no successful plain and layered ops to measure")
    return loop, layered_recs, plain_s


def main(argv=None) -> int:
    args = _parse(argv if argv is not None else sys.argv[1:])
    if not os.path.isfile(os.path.join(ROOT, "dea_coastlines_spark", "__init__.py")):
        print(f"coastbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from tracing import PER_LAYER, fold_event_log, per_layer_metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"coastbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's scratch space and every temp file of the JVM and the
    # Python workers stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    t_run = time.perf_counter()
    stamps = {"nproc": len(os.sched_getaffinity(0)), "load1_start": _load1()}
    steal0 = _steal_total()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed, args.size)
        spark, stamps["generate_wait_s"] = _start_with_inputs(wl, work, bool(args.trace))
        conf = spark.conf
        stamps["spark_conf"] = {
            k: conf.get(k) for k in (
                "spark.master",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "spark.sql.execution.arrow.maxBytesPerBatch",
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
            )
        }
        if args.trace:
            loop, layered, plain = run_traced(wl, spark, args.seconds)
        else:
            loop, metrics, info = run_untraced(wl, args.seconds, rss)
            units = dict(END_TO_END)
        _stop_spark(spark)
        spark = None
        if args.trace:
            # the event log is complete once Spark has stopped
            events = fold_event_log(os.path.join(work, "eventlog"))
            metrics = per_layer_metrics(layered, plain, events)
            info = {"plain_ops": len(plain), "layered_ops": len(layered)}
            units = dict(PER_LAYER)
    finally:
        if spark is not None:
            _stop_spark(spark)
        rss.stop()
        _stop_resource_tracker()
        shutil.rmtree(work, ignore_errors=True)
    steal1 = _steal_total()
    stamps["steal_pct"] = round(
        100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 3
    )
    info.update(
        run_wall_s=round(time.perf_counter() - t_run, 2),
        attempted=loop.attempted, failed=loop.failed,
        ops_failed_frac=loop.failed / loop.attempted,
    )
    print("coastbench: conditions " + json.dumps(stamps, sort_keys=True))
    print(f"coastbench: {args.workload} seed={args.seed} " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
