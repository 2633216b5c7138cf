"""Run one workload of the benchmark once and print its result.

    python3 perfbench/run.py --workload color_uniform --seed 1 --seconds 10 --trace 0

The run makes its inputs from ``--seed``, starts the engine's session on
``local[<cores>]`` in this driver process, runs one cold op, then the
workload's fixed number of warm-up ops, then timed ops for ``--seconds``
seconds (an op starts only while it is expected to finish inside the
window, and at least one runs), and checks every op's outputs.
``wall_s`` is the median over the timed ops.  The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run environment, including the share of CPU time the
hypervisor stole during the run.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` instead
runs the ops with Spark's event log on and every layer call in a job
group of its own, for half the window, then the workload's extra ops
once each.  It folds the log into one row per span (printed as the
``layers`` line) and reports the per-layer metrics.  It then restarts
the session untraced in the same JVM and runs the ops again for the
other half, after its own cold and warm-up ops, so ``trace.overhead_s``
is the traced minus the untraced median time of the same timed ops, in
the same cache state.

Every file the run writes lives in a temporary directory under
``.perfbench_tmp/`` at the repository root, removed when the run ends.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "distributed_graph_coloring_with_pyspark_spark"

sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from tracing import (  # noqa: E402
    FIELDS,
    NullTracer,
    Tracer,
    check_metric_names,
    fold,
    layer_table,
    read_event_log,
)
from workloads import EXTRAS, WORKLOADS, CheckFailed  # noqa: E402

END_TO_END = {"setup_s": "s", "cold_wall_s": "s", "wall_s": "s"}

_FIELD_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "single_task_stages": "count",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "driver_s": "s",
}
SPANS = ("session.get_spark",) + tuple(
    s for w in (*WORKLOADS.values(), *EXTRAS) for s in w.spans
)
PER_LAYER = {
    **{f"{span}.{f}": _FIELD_UNITS[f] for span in SPANS for f in FIELDS},
    "coloring.colors": "count",
    "coloring.attempts": "count",
    "coloring.rounds": "count",
    "coloring.s_per_round": "s",
    "similarity.recall_at_k": "ratio",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(tmp: str) -> None:
    """Keep Spark's and Python's scratch files inside ``tmp``, and let the
    Python workers Spark forks import the package from any cwd."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # the short-lived JVM spark-submit starts first to build the command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/tmp"
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(tmp: str, tracer, event_dir: str | None = None):
    """The engine's session plus one trivial job; returns it with the
    seconds that took (the setup time a user pays)."""
    from distributed_graph_coloring_with_pyspark_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/tmp"
        f" -Dderby.system.home={tmp}/derby -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_dir,
            }
        )
    wall0, t0 = time.time(), time.perf_counter()
    spark = get_spark("perfbench", cpus=cores(), extra_conf=conf)
    tracer.attach(spark)
    with tracer.span("session.get_spark", start=wall0):
        spark.range(1).count()
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def jvm_process():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def stop_jvm(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway, proc = SparkContext._gateway, jvm_process()
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine so far: time the
    hypervisor ran other guests on its CPUs, out of all time."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def attempt(workload, spark, tracer) -> tuple[float, dict | None]:
    """Run one op and check it: its wall time, and the checked counts,
    or None when it raised or failed its check."""
    t0 = time.perf_counter()
    try:
        out = workload.op(spark, tracer)
    except Exception:
        traceback.print_exc()
        return time.perf_counter() - t0, None
    wall = time.perf_counter() - t0
    try:
        return wall, workload.check(spark, out)
    except CheckFailed as e:
        print(f"{workload.name} failed its check: {e}", file=sys.stderr)
    except Exception:
        traceback.print_exc()
    return wall, None


class Ops:
    """Runs a workload's ops and keeps their outcome.  The first op of a
    session is its cold op; then come the workload's ``WARMUP`` ops, a
    fixed count whatever the host's speed, and then the timed window."""

    def __init__(self, workload, spark, tracer) -> None:
        self.workload, self.spark, self.tracer = workload, spark, tracer
        self.walls: list[float] = []  # every op, the cold one first
        self.ok: list[bool] = []
        self.stats: dict[int, dict] = {}  # op index -> checked counts
        self.window = 1  # index of the first timed op

    def one(self) -> None:
        i = len(self.walls)
        # collect the last op's garbage (and the py4j objects it holds)
        # now, not at some random point inside the next timed op
        gc.collect()
        self.tracer.op = i
        wall, stats = attempt(self.workload, self.spark, self.tracer)
        self.tracer.op = None
        self.walls.append(wall)
        if stats is not None:
            self.stats[i] = stats
        self.ok.append(stats is not None)

    def run(self, seconds: float) -> None:
        """The cold op, the warm-up ops, then timed ops while the next is
        expected to end inside ``seconds`` (at least one)."""
        for _ in range(1 + self.workload.WARMUP):
            self.one()
        self.window = len(self.walls)
        start = time.perf_counter()
        while len(self.walls) == self.window or (
            time.perf_counter() - start + statistics.median(self.timed) <= seconds
        ):
            self.one()

    @property
    def cold(self) -> float:
        return self.walls[0]

    @property
    def timed(self) -> list[float]:
        return self.walls[self.window :]

    @property
    def steady(self) -> float:
        """Median wall time over the timed ops, passing ops only unless
        none passed."""
        oks = self.ok[self.window :]
        return statistics.median([w for w, ok in zip(self.timed, oks) if ok] or self.timed)

    @property
    def failed(self) -> int:
        return self.ok.count(False)

    def steady_stats(self) -> dict[str, float]:
        """Median over the passing timed ops of each checked count."""
        steady = [s for i, s in self.stats.items() if i >= self.window]
        keys = {k for s in steady for k in s}
        return {k: statistics.median(s[k] for s in steady if k in s) for k in keys}


def run_plain(workload, tmp: str, seconds: float, env: dict):
    spark, setup0 = start_session(tmp, NullTracer())
    env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    ops = Ops(workload, spark, NullTracer())
    try:
        ops.run(seconds)
    finally:
        stop_jvm(spark)
    env["op_walls_s"] = [round(w, 3) for w in ops.walls]
    env["op_counts"] = [ops.stats.get(i) for i in range(len(ops.walls))]
    values = {
        "setup_s": setup0,
        "cold_wall_s": ops.cold,
        "wall_s": ops.steady,
    }
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    return len(ops.walls), ops.failed, metrics


def overhead(traced: list[float], untraced: list[float]) -> float:
    """Traced minus untraced median wall time over the same timed ops by
    position, since ops speed up while the JIT warms."""
    n = min(len(traced), len(untraced))
    return statistics.median(traced[:n]) - statistics.median(untraced[:n])


def run_traced(workload, extras, tmp: str, seconds: float, env: dict):
    event_dir = os.path.join(tmp, "events")
    tracer = Tracer()
    spark, _ = start_session(tmp, tracer, event_dir=event_dir)
    env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    ops = Ops(workload, spark, tracer)
    passed = set()  # ops whose spans go into the layer table
    failed = 0
    try:
        ops.run(seconds / 2)
        rss = peak_rss_mb(jvm_process().pid)
        env["extra_walls_s"] = {}
        for extra in extras:
            gc.collect()
            tracer.op = extra.name
            wall, stats = attempt(extra, spark, tracer)
            tracer.op = None
            env["extra_walls_s"][extra.name] = round(wall, 3)
            if stats is None:
                failed += 1
            else:
                passed.add(extra.name)
        spark.stop()  # flushes and closes the event log; the JVM stays up
        spark, _ = start_session(tmp, NullTracer())
        # the new session's first op fills its caches again, as the traced
        # cold op did, and its warm-up ops follow, so the timed ops of both
        # sides are in the same cache state
        untraced = Ops(workload, spark, NullTracer())
        untraced.run(seconds / 2)
    finally:
        stop_jvm(spark)

    rows = fold(read_event_log(event_dir), tracer.spans)
    # a span's row comes from the passing timed ops; a span that only the
    # cold op runs (the index build) keeps its cold row, and an extra op's
    # spans the row of their one call
    passed |= {i for i, ok in enumerate(ops.ok) if ok and (i == 0 or i >= ops.window)}
    steady = {s.name for s in tracer.spans if s.op in passed - {0}}
    table = layer_table(
        [
            s
            for s in tracer.spans
            if s.op is None or s.op in passed and (s.op != 0 or s.name not in steady)
        ],
        rows,
    )
    values = dict.fromkeys(PER_LAYER, 0.0)
    for span, row in table.items():
        for f in FIELDS:
            values[f"{span}.{f}"] = row[f]
    values.update(ops.steady_stats())
    values["memory.peak_rss_mb"] = rss
    rounds = values["coloring.rounds"]
    if rounds:
        values["coloring.s_per_round"] = values["coloring.minimal_coloring.wall_s"] / rounds
    values["trace.overhead_s"] = overhead(ops.timed, untraced.timed)
    env["op_walls_s"] = [round(w, 3) for w in ops.walls]
    env["untraced_op_walls_s"] = [round(w, 3) for w in untraced.walls]
    print(json.dumps({"layers": table}))
    metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}
    attempted = len(ops.walls) + len(extras) + len(untraced.walls)
    return attempted, ops.failed + failed + untraced.failed, metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an error, so the JVM stops and scratch files go
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    check_metric_names(list(END_TO_END) + list(PER_LAYER))

    import pyspark

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores(),
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
    }
    stolen0, total0 = host_ticks()
    try:
        isolate(tmp)
        workload = WORKLOADS[args.workload](args.seed, tmp)
        workload.prepare()
        if args.trace:
            extras = workload.extras(tmp)
            for extra in extras:
                extra.prepare()
            attempted, failed, metrics = run_traced(workload, extras, tmp, args.seconds, env)
        else:
            attempted, failed, metrics = run_plain(workload, tmp, args.seconds, env)
        stolen1, total1 = host_ticks()
        env["steal_pct"] = round(100 * (stolen1 - stolen0) / max(1, total1 - total0), 2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"env": env}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
