"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 20 --trace 0

Runs one workload on ``local[<cores>]`` in one Spark driver, checks its
outputs, and prints as the last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the layers' public functions,
reports the per-layer metrics and writes the spans under
``.perfbench_work/traces/``. A diagnostic line (loadavg at start and end,
timed wall, check failures) goes to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3

END_TO_END = [
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("steady_per_s", "1/s"),
    ("start_s", "s"),
    ("op_p50_s", "s"),
    ("jvm_live_heap_mb", "MB"),
    ("py_worker_peak_rss_mb", "MB"),
]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def start_session(cpus: int, work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -Djava.io.tmpdir={work} -Dderby.system.home={work}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    return spark


def _stat(pid) -> list[str]:
    """Fields 3.. of ``/proc/<pid>/stat``: [0] state, [1] ppid, [19] start
    time (which tells a reused pid from ours)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _descendants(root: int) -> dict[int, str]:
    """Live processes under ``root``: pid -> start time."""
    parent, start = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            fields = _stat(d)
        except OSError:
            continue
        if fields[0] != "Z":
            parent[int(d)], start[int(d)] = int(fields[1]), fields[19]
    out = {}
    for pid in parent:
        p, seen = parent.get(pid), 0
        while p and p != root and seen < 32:
            p, seen = parent.get(p), seen + 1
        if p == root:
            out[pid] = start[pid]
    return out


def _alive(pid: int, start: str) -> bool:
    try:
        fields = _stat(pid)
    except OSError:
        return False
    if fields[19] != start:
        return False
    if fields[0] == "Z":
        if int(fields[1]) == os.getpid():
            os.waitpid(pid, os.WNOHANG)
        return False
    return True


def _wait_gone(procs: dict[int, str], timeout_s: float) -> dict[int, str]:
    deadline = time.monotonic() + timeout_s
    while True:
        procs = {p: s for p, s in procs.items() if _alive(p, s)}
        if not procs or time.monotonic() > deadline:
            return procs
        time.sleep(0.05)


def stop_spark(spark, procs: dict[int, str]) -> None:
    """Stop the session, then the gateway JVM and every process under it
    (the PySpark daemon and its workers), and wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running: it exits by itself only
    when its stdin pipe from this process closes, i.e. after this process
    is gone. ``procs`` are descendants recorded while the session ran;
    whatever of them, or of this process's current descendants, outlives
    the JVM gets SIGTERM, then SIGKILL."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    except Exception as e:  # a py4j call cut short leaves a broken connection
        print(f"spark.stop failed: {e!r}", file=sys.stderr)
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        left = _wait_gone({**procs, **_descendants(os.getpid())}, 10)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            left = _wait_gone(left, 10)


def jvm_live_heap_mb(spark, rounds: int = 20) -> float:
    """Driver JVM heap in use after forced full GCs. Python-side proxies are
    collected first. Spark's ContextCleaner drops the RDDs, broadcasts and
    shuffles they pinned asynchronously after each GC, in several steps; so
    collect until three successive readings agree within 1 MB."""
    import gc

    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(rounds):
        gc.collect()
        mx.gc()
        readings.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
        time.sleep(0.5)
    return readings[-1]


def py_worker_peak_rss_mb(spark) -> float:
    """Highest VmHWM among the Python worker processes under the JVM."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    peak = 0.0
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024)
        except OSError:
            continue
    return peak


def span_cost_s(n: int = 20000) -> float:
    """Per-span cost of the tracer's wrapper, measured on a no-op."""
    from perfbench.spans import Tracer

    tr = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        tr.call("x", int)
    return (time.perf_counter() - t0) / n


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    # imports the program under test: without it, this fails before Spark starts
    from perfbench import spans, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")

    load_start = _loadavg()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # Python workers import the package from the checkout; the JVM and
    # Spark keep their temporary files inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["TMPDIR"] = tempfile.tempdir = work
    # a SIGTERM unwinds through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spark = None
    procs: dict[int, str] = {}
    try:
        spark = start_session(cpus, work)
        procs = _descendants(os.getpid())
        session_s = time.perf_counter() - T_PROCESS
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.seconds, cpus)
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(reps)

        tracer = spans.Tracer() if args.trace else None
        if tracer is not None:
            wl.install_tracing(tracer)
        t0 = time.perf_counter()
        try:
            wl.run()
        finally:
            if tracer is not None:
                tracer.uninstall()
        timed_wall = time.perf_counter() - t0
        if not args.trace:  # before the checks add objects of their own
            memory = {
                "jvm_live_heap_mb": jvm_live_heap_mb(spark),
                "py_worker_peak_rss_mb": py_worker_peak_rss_mb(spark),
            }

        attempted, failed, reasons = wl.check()
        if args.trace:
            values = wl.per_layer(tracer)
            values["trace.spans"] = float(len(tracer.spans))
            values["trace.overhead_s"] = len(tracer.spans) * span_cost_s()
            values["trace.wall_s"] = timed_wall
            names = workloads.PER_LAYER
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK_ROOT, "traces", f"{args.workload}-{args.seed}.json"))
        else:
            values = {**wl.end_to_end(), "setup_s": setup_s, **memory}
            names = END_TO_END
        procs.update(_descendants(os.getpid()))
        load_end = _loadavg()
    finally:
        try:
            stop_spark(spark, procs)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "loadavg_start": load_start,
                "loadavg_end": load_end,
                "timed_wall_s": round(timed_wall, 3),
                "setup_reps_s": [round(r, 3) for r in reps],
                "session_s": round(session_s, 3),
                "check_failures": reasons[:10],
                **wl.diagnostics(),
            }
        ),
        file=sys.stderr,
    )
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
