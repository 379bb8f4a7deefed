"""Benchmark entry point: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine runs on ``local[nproc]``. A run
sets up its inputs, warms up, drives the workload in a closed loop with one
client for ``--seconds``, checks every answer it timed, and prints a
human-readable report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run enables the
Spark event log, puts every call into a layer under its own job group, and
reports per-layer metrics instead (spans go to ``.perfbench_work/``).

Exits 1 when an answer is wrong and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3

# end-to-end metrics every workload reports, with their units
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
}


class Run:
    """State of one benchmark invocation: the Spark session, its working
    directory, timings, checks and the report."""

    def __init__(self, args, spark, workdir: str, tracer, n_parts: int):
        self.args = args
        self.seed = args.seed
        # a workload of several parts gives each an equal share of --seconds
        self.seconds = args.seconds / n_parts
        self.spark = spark
        self.workdir = workdir
        self.tracer = tracer
        self.nproc = int(spark.sparkContext.defaultParallelism)
        self.attempted = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.report: list[tuple[str, float, str]] = []
        self.setup_parts: dict[str, float] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def check(self, ok: bool, msg: str) -> None:
        """One checked answer: counts as attempted, and as failed if wrong."""
        self.attempted += 1
        if not ok:
            self.failures.append(msg)

    def say(self, name: str, value: float, unit: str) -> None:
        self.report.append((name, value, unit))

    def add_setup(self, name: str, seconds: float) -> None:
        self.setup_parts[name] = self.setup_parts.get(name, 0.0) + seconds

    def add_metric(self, name: str, value: float) -> None:
        self.metrics[name] = self.metrics.get(name, 0.0) + value

    def note_driver_path(self, driver: bool) -> None:
        """cluster.driver_path is 1 only if every traced connected
        components call ran on the driver."""
        self.metrics["cluster.driver_path"] = min(
            self.metrics.get("cluster.driver_path", 1.0), float(driver)
        )

    def setup(self, build):
        """Run ``build(i)`` SETUP_REPEATS times; keep the last result and
        count the median time."""
        times, out = [], None
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out = build(i)
            times.append(time.perf_counter() - t0)
        self.add_setup("build_s", statistics.median(times))
        return out

    def timed_loop(self, op) -> None:
        """Closed loop, one client: call ``op(i)`` until this part's share of
        ``--seconds`` has passed (at least once)."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while True:
            op(i)
            i += 1
            if time.perf_counter() >= deadline:
                return


def _peak_rss_mb(spark) -> float:
    """Peak resident set over the whole run: this driver process plus the
    JVM. The JVM's heap is pre-touched at its full size, so what varies is
    the driver's memory and the JVM's memory outside the heap."""
    total_kb = 0
    for pid in (os.getpid(), spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()):
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def _start_spark(args, workdir: str):
    """Session on local[nproc] whose Python workers import the engine from
    this checkout and whose scratch files stay inside ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # every JVM the launch starts keeps its temp files in the checkout and
    # writes no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # the heap is committed and touched at start, so the JVM's share of
        # peak_rss_mb does not depend on when the collector grew the heap
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
    }
    if args.trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": f"file://{log_dir}",
            }
        )
    from blurrily_spark import get_spark

    nproc = len(os.sched_getaffinity(0))
    return get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _finish(run: Run, parts: list, t_session: float) -> dict:
    if run.args.trace:
        from spans import layer_metrics, metric_units, read_event_log

        _stop_spark(run.spark)
        events = read_event_log(run.path("eventlog"))
        values = layer_metrics(run.tracer, events)
        values.update(run.metrics)
        units = metric_units()
        out = os.path.join(ROOT, ".perfbench_work", f"trace-{run.args.workload}-{run.seed}.json")
        run.tracer.dump(out, values)
        return {k: {"value": values[k], "unit": units[k]} for k in units}

    run.metrics["setup_s"] = t_session + sum(run.setup_parts.values())
    run.metrics["throughput_per_s"] = sum(p.items for p in parts) / sum(p.busy_s for p in parts)
    # one op of a multi-part workload is one op of each part
    run.metrics["op_p50_ms"] = sum(statistics.median(p.latencies) for p in parts) * 1000.0
    run.metrics["peak_rss_mb"] = _peak_rss_mb(run.spark)
    _stop_spark(run.spark)
    for name, value in sorted(run.setup_parts.items()):
        run.say(f"setup.{name}", value, "s")
    run.say("setup.session_s", t_session, "s")
    return {k: {"value": run.metrics[k], "unit": u} for k, u in E2E_UNITS.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import blurrily_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        t0 = time.perf_counter()
        spark = _start_spark(args, workdir)
        t_session = time.perf_counter() - t0
        from spans import Tracer

        tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}", enabled=False)
        run = Run(args, spark, workdir, tracer, len(workloads.WORKLOADS[args.workload]))
        parts = []
        try:
            for part in workloads.WORKLOADS[args.workload]:
                parts.append(part(run))
                tracer.restore()
        except BaseException:
            _stop_spark(spark)
            raise
        metrics = _finish(run, parts, t_session)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    for name, value, unit in run.report:
        print(f"{name:32s} {value:14.4f} {unit}")
    for msg in run.failures[:20]:
        print(f"FAILED: {msg}")
    failed = len(run.failures)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": max(run.attempted, 1),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
