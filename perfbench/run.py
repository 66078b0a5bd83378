"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload world_build --seed 1 --seconds 10 --trace 0

Runs one workload (world_build or ingest_append) on ``local[<cores>]`` as
a closed loop with one client, checks every output and prints one JSON
object as the last line of standard output. With ``--trace 0`` it holds
the end-to-end metrics; with ``--trace 1`` the per-layer metrics from spans
and Spark's event log. See README.md here.
"""

from __future__ import annotations

import argparse
import ctypes
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s", "readback_s": "s",
    "ok_frac": "frac", "rss_peak_mb": "MB",
}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def isolate(work: str, cpus: int) -> None:
    """Keep every file the run writes under ``work`` and put the engine on
    the path of the Python workers Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": driver_mem(),
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
    })
    tempfile.tempdir = tmp


def proc_table() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, resident pages) of every process, from /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        table[int(d)] = (int(fields[1]), int(fields[21]))
    return table


def descendants(table: dict[int, tuple[int, int]]) -> set[int]:
    """The processes in ``table`` that descend from this one."""
    tree, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, (pp, _) in table.items() if pp in frontier and p not in tree}
        tree |= frontier
    return tree


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc.

    A process counts with the smaller of its last two samples. A child the
    JVM spawns shares the JVM's memory until it execs, and would otherwise
    count the JVM twice if a sample fell in that moment."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._prev: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())

    def tree_rss(self) -> int:
        procs = proc_table()
        tree = descendants(procs) | {os.getpid()}
        now = {p: procs[p][1] * self._page for p in tree if p in procs}
        total = sum(min(r, self._prev.get(p, 0)) for p, r in now.items())
        self._prev = now
        return total


def become_subreaper() -> None:
    """Make this process the reaper of every process it starts, so that one
    whose parent ends first (a Python worker after the JVM) is still ours
    to stop and wait for."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_until(deadline: float) -> bool:
    """Wait for children until none is left (True) or the deadline passes."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.05)


def stop_all_processes() -> None:
    """Stop Spark and its JVM, then every other process this run started,
    and wait until each has ended. The JVM leaves once its standard input
    closes; whatever remains gets SIGTERM, then SIGKILL."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # a failed stop must not keep the JVM alive
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
    if _reap_until(time.monotonic() + 20):
        return
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        for pid in descendants(proc_table()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if _reap_until(time.monotonic() + grace):
            return


def _warm_worker(batches):
    """Imports the engine's operators in each Python worker."""
    import geopull_spark.operators.blocker  # noqa: F401
    import geopull_spark.operators.dedup  # noqa: F401
    import geopull_spark.operators.spatial_join  # noqa: F401

    yield from batches


def start_session(work: str, cpus: int, event_log_dir: str | None = None):
    """SparkSession plus Python-worker warm-up; returns it and its seconds."""
    from geopull_spark.session import get_spark

    from perfbench import trace

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap of fixed size, touched at start: the RSS peak then does not
        # depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update(trace.event_log_conf(event_log_dir))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 4, extra_conf=conf)
    spark.range(0, cpus * 10, 1, numPartitions=cpus).mapInPandas(_warm_worker, "id long") \
        .write.format("noop").mode("overwrite").save()
    return spark, time.perf_counter() - t0


def untraced(wl, args, work: str, cpus: int, size: dict) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import Ctx

    with RssSampler() as rss:
        spark, session_s = start_session(work, cpus)
        ctx = Ctx(spark, cpus, args.seed, size, work, Tracer(), False, args.seconds)
        t0 = time.perf_counter()
        state = wl.setup(ctx)
        setup_s = session_s + time.perf_counter() - t0
        ctx.tracer.phase = "timed"
        res = wl.timed(ctx, state)
        wl.release(state)
        spark.stop()
    metrics = dict(res.metrics)
    metrics["setup_s"] = setup_s
    metrics["ok_frac"] = 1.0 - res.failed / res.attempted
    metrics["rss_peak_mb"] = rss.peak_bytes / 2**20
    detail = {"session_s": session_s, "reps": res.detail}
    return {"metrics": {k: (metrics[k], u) for k, u in E2E_UNITS.items()},
            "attempted": res.attempted, "failed": res.failed, "detail": detail}


def traced(wl, args, work: str, cpus: int, size: dict) -> dict:
    """One session with Spark's event log on: set-up, then the timed loop
    three times: untraced, traced, untraced. The two untraced loops are the
    reference for the tracing overhead, taken on both sides of the traced
    one because the JVM is still speeding up. world_build then also sets up
    ingest_append at the tiny size, which calls every other layer, so that
    every per-layer metric is measured in every traced run."""
    from perfbench import kernels_micro, trace
    from perfbench.workloads import SIZES, Ctx, IngestAppend

    log_dir = os.path.join(work, "eventlog")
    spark, _ = start_session(work, cpus, log_dir)
    tracer = trace.Tracer(spark.sparkContext)
    ctx = Ctx(spark, cpus, args.seed, size, work, tracer, True, args.seconds)
    state = wl.setup(ctx)
    ref_ctx = dataclasses.replace(ctx, tracer=trace.Tracer(), trace=False)
    ref_ctx.tracer.phase = "timed"
    ref = [wl.timed(ref_ctx, state)]
    tracer.phase = "timed"
    res = wl.timed(ctx, state)
    ref.append(wl.timed(ref_ctx, state))
    ref_walls = ref[0].rep_walls + ref[1].rep_walls
    tracer.phase = "extra"
    ratios = wl.ratios(ctx, state)
    caps = [wl.kernel_inputs(ctx, state)]
    wl.release(state)
    if not isinstance(wl, IngestAppend):
        tracer.phase = "sweep"
        tiny = Ctx(spark, cpus, args.seed, SIZES["tiny"], work, tracer, True, 0)
        other = IngestAppend()
        st = other.setup(tiny)
        for k, v in other.ratios(tiny, st).items():
            ratios.setdefault(k, v)
        caps.append(other.kernel_inputs(tiny, st))
        other.release(st)
    spark.stop()

    (log,) = os.listdir(log_dir)
    groups = trace.parse_event_log(os.path.join(log_dir, log))
    cap: dict = {}
    for c in caps:
        for k, v in c.items():
            cap.setdefault(k, v)
    kernel_metrics, kernel_counts = kernels_micro.run(cap)

    units = trace.per_layer_units()
    metrics = trace.span_metrics(tracer.spans, groups)
    metrics.update(trace.spark_totals(groups))
    metrics.update(kernel_metrics)
    metrics.update(ratios)
    metrics["trace.overhead_frac"] = statistics.median(res.rep_walls) / statistics.median(ref_walls) - 1
    metrics["trace.unattributed_s"] = trace.unattributed(tracer.spans)
    detail = {"kernel_counts": kernel_counts, "untraced_rep_walls": ref_walls,
              "traced_rep_walls": res.rep_walls, "reps": res.detail,
              "spans": [vars(s) for s in tracer.spans]}
    if set(metrics) != set(units):
        raise RuntimeError(f"per-layer metrics missing: {sorted(set(units) - set(metrics))}, "
                           f"unregistered: {sorted(set(metrics) - set(units))}")
    return {"metrics": {k: (metrics[k], u) for k, u in units.items()},
            "attempted": res.attempted + sum(r.attempted for r in ref),
            "failed": res.failed + sum(r.failed for r in ref),
            "detail": detail}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the benchmark's own tests")
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    cpus = host_cpus()
    sys.path.insert(0, ROOT)
    try:
        import geopull_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    become_subreaper()
    # a stop request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    isolate(work, cpus)
    try:
        out = (traced if args.trace else untraced)(wl, args, work, cpus, SIZES[args.size])
    finally:
        stop_all_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": out["detail"], "workload": args.workload, "seed": args.seed,
                      "cpus": cpus}, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
