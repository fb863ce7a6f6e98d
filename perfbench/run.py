"""pke_spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload {index,keyphrase}
        --seed N --seconds S --trace {0,1}

Run it from anywhere: it imports ``pke_spark`` from the checkout that
holds this file, pins Spark's Python workers to the same checkout (the
worker ``PYTHONPATH`` and the JVM's working directory), checks both with
``pke_spark.__file__`` and refuses to run if either resolves elsewhere.
Everything it writes goes under ``.perfbench_work/`` in the checkout and
is removed at exit; a traced run also leaves its spans in
``.perfbench_traces/<workload>-<seed>.jsonl``.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics,
measured with no wrappers installed; ``--trace 1`` runs the workload
traced, then replays its loop untraced, and reports the per-layer
metrics (see ``trace.py``). The line before it is a detail record: the input
sizes, the host record and the workload's own named metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("index", "keyphrase")


def _inside(path: str, root: str) -> bool:
    return os.path.commonpath([os.path.realpath(path),
                               os.path.realpath(root)]) == \
        os.path.realpath(root)


def _pin_environment(work: str) -> None:
    """Everything Spark and its Python workers inherit, set before the
    JVM starts: workers import from ROOT, and scratch space, shuffle
    files and JVM temp files stay inside the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.chdir(ROOT)
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if p and os.path.realpath(p) != ROOT]
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    import tempfile
    tempfile.tempdir = None


def _check_isolation(spark) -> dict:
    import pke_spark
    driver = pke_spark.__file__
    worker = (spark.sparkContext.parallelize([0], 1)
              .map(lambda _: __import__("pke_spark").__file__).collect()[0])
    rec = {"driver_pke_spark": driver, "worker_pke_spark": worker}
    bad = [k for k, v in rec.items() if not _inside(v, ROOT)]
    if bad:
        raise SystemExit(f"refusing to run: {', '.join(bad)} resolve "
                         f"outside the checkout {ROOT}: {rec}")
    return rec


class _CpuStat:
    """CPU steal share over the run, from /proc/stat."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def steal_pct(self) -> float:
        end = self._read()
        d = [b - a for a, b in zip(self.start, end)]
        total = sum(d[:8])
        return round(100.0 * d[7] / total, 3) if total else 0.0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the
    JVM and its Python worker daemons have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = []
    if proc is not None:
        kids = _children(proc.pid)
        kids += [g for k in kids for g in _children(k)]
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "pke_spark")):
        print(f"no pke_spark package in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _pin_environment(work)
    cpu = _CpuStat()
    spark = None
    try:
        from perfbench import trace, workloads
        from pke_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        extra = trace.event_log_conf(work) if args.trace else {}
        spark = get_spark(f"perfbench-{args.workload}", cpus=nproc,
                          shuffle_partitions=nproc, extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        iso = _check_isolation(spark)
        session_s = time.perf_counter() - t_start

        def make(sub: str = "run"):
            return workloads.make(args.workload, spark, args.seed,
                                  os.path.join(work, sub))

        traced = None
        if args.trace:
            traced = trace.TracedRun(make, args.seconds)
            wl = traced.wl
        else:
            wl = make()
            wl.setup()
            setup_s = time.perf_counter() - t_start
            wl.loop(args.seconds)
            wl.verify()
        record = {
            "workload": args.workload, "seed": args.seed,
            "inputs": wl.input_sizes(),
            "host": {
                "nproc": nproc, "steal_pct": cpu.steal_pct(),
                "master": spark.sparkContext.master,
                "shuffle_partitions": spark.conf.get(
                    "spark.sql.shuffle.partitions"),
                "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"]},
            "isolation": iso,
            "session_s": round(session_s, 4),
        }
        if traced is None:
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            peak_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
            named = wl.named_metrics()
            named.update(setup_s=setup_s, peak_rss_mb=peak_mb,
                         error_rate=wl.failed / max(wl.attempted, 1))
            record["named_metrics"] = named
            metrics = {
                "setup_s": (setup_s, "s"),
                "throughput_per_s": (wl.throughput(), "1/s"),
            }
        else:
            _stop(spark)
            spark = None
            result = traced.finish(
                os.path.join(work, "eventlog"),
                os.path.join(ROOT, ".perfbench_traces",
                             f"{args.workload}-{args.seed}.jsonl"))
            record["trace"] = result["summary"]
            metrics = result["metrics"]
        print(json.dumps(record, default=str))
        print(json.dumps({
            "correct": wl.failed == 0,
            "attempted": int(wl.attempted), "failed": int(wl.failed),
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()}}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
