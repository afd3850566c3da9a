"""Benchmark runner: one workload, one seed, one closed-loop client.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload refjobs|curation|ingest --seed N \
        --seconds S --trace 0|1

The run generates the workload's inputs from the seed (untimed), sets
up once (``setup_s``: from process start until ready, with a fresh JVM
and the input generation left out), runs one cold operation, the
workload's untimed warm-up operations (``warmup_ops``) and then warm
operations for ``--seconds`` seconds and at least the workload's
``min_warm``, and checks every operation's outputs against a DuckDB
oracle outside the timed region. The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``, holding the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. The full record (host stamp, input properties, every
sample) is the line before it and is kept under ``.perfbench/results``.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

DRIVER_MEMORY = "2g"  # JVM heap; the engine's 8g default is more than these inputs need
CALIB_QUERY = "sum(id * 2654435761 % 1000003) AS s"  # bench.py's throttle sentinel


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


class NoTrace:
    """The untraced run's stand-in for the tracer: spans cost nothing."""

    op = None

    def span(self, name):
        return contextlib.nullcontext({})


def session_conf(run_dir: Path, trace: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.local.dir": str(run_dir / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.dir": f"file://{run_dir / 'eventlog'}"}
    return conf


def stop_jvm() -> None:
    """Stop the active session, if any, then the JVM, and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["refjobs", "curation", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "hadoop_app_spark" / "__init__.py").is_file():
        print(f"no hadoop_app_spark package under {root}: run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    base = root / ".perfbench"
    run_dir = base / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        (run_dir / sub).mkdir(parents=True)
    # every file the engine, its workers and the JVM write stays in this run's dir
    os.environ["PYTHONPATH"] = os.pathsep.join([str(root), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = str(run_dir / "tmp")
    try:
        return run(args, run_dir, results)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: Path, results: Path) -> int:
    import workloads

    tracer = NoTrace()
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()  # before anything imports hadoop_app_spark.queries or .plans
    import hadoop_app_spark.plans  # noqa: F401  the engine's import is part of set-up
    import hadoop_app_spark.queries  # noqa: F401
    from hadoop_app_spark import get_spark

    w = workloads.WORKLOADS[args.workload](run_dir, args.seed, tracer.span)
    before_inputs = time.perf_counter() - PROCESS_T0
    w.props = w.prepare()  # inputs and oracles: untimed, in no metric

    master = f"local[{nproc()}]"
    tracer.op = "setup"
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}", master=master,
                          extra_conf=session_conf(run_dir, bool(args.trace)))
    with tracer.span("session.warmup"):
        spark.range(0, 1000, 1, nproc()).selectExpr("sum(id)").collect()
        if w.python_workers:
            spark.range(32).repartition(nproc()).mapInPandas(
                lambda it: it, schema="id long").write.format("noop").mode("overwrite").save()
    if args.trace and w.streaming:
        listener = add_listener(spark)
    with tracer.span("workload.setup"):
        w.setup(spark)
    setup_s = before_inputs + time.perf_counter() - t0

    samples = []
    first_warm = 2 + w.warmup_ops  # 1-based: after the cold and the untimed warm-up operations
    t_start = time.perf_counter()
    i = 0
    while len(samples) < first_warm - 1 + w.min_warm or time.perf_counter() - t_start < args.seconds:
        i += 1
        tracer.op = "cold" if i == 1 else f"op{i}"
        if i == first_warm:
            t_start = time.perf_counter()  # the window holds timed warm operations only
        res = {"t0": time.time(), "warm": i >= first_warm}
        try:
            with tracer.span("workload.op"):
                res |= w.op(spark, i)
            res["t1"] = time.time()
            tracer.op = None
            res["ok"] = w.check(spark, res)  # outside the timed region
        except Exception:  # the loop goes on: a failed operation is counted, not fatal
            traceback.print_exc()
            res["ok"] = False
        tracer.op = None
        samples.append(res)
    try:
        bad = w.check_run(spark, len(samples))
    except Exception:
        traceback.print_exc()
        bad = range(1, len(samples) + 1)
    for i in bad:
        samples[i - 1]["ok"] = False
    failures = sum(not r["ok"] for r in samples)
    timed = [r for r in samples if r["warm"] and "s" in r]
    if "s" not in samples[0] or not timed:
        print("no operation completed: nothing to report", file=sys.stderr)
        return 1

    calib_t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, 8).selectExpr(CALIB_QUERY).collect()
    calib = time.perf_counter() - calib_t0
    extra = w.extra(spark)
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    import pyspark

    host = {"nproc": nproc(), "master": master, "spark": pyspark.__version__,
            "python": platform.python_version(),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "calib_sec": round(calib, 4)}
    w.teardown(spark)
    stop_jvm()

    cold, warm = samples[0], timed
    warm_p50 = statistics.median(r["s"] for r in warm)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold["s"], "s"),
        "warm_p50_s": (warm_p50, "s"),
        "rows_per_s": (w.rows_per_s(warm, warm_p50), "1/s"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host, "inputs": w.props | extra,
        "samples": [{k: v for k, v in r.items() if k not in ("results",)} for r in samples],
        "failed_ratio": failures / len(samples),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "peak_rss_mb": peak_rss,
    }
    if args.trace:
        from layers import per_layer

        record["per_layer"] = per_layer(tracer, run_dir / "eventlog", samples, extra | {"peak_rss_mb": peak_rss},
                                        listener.progress if w.streaming else [])
        untraced = results / f"{args.workload}-s{args.seed}-t0.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text())["end_to_end"]["warm_p50_s"]["value"]
            record["tracing_overhead_s"] = warm_p50 - base
        tracer.dump(results / f"{args.workload}-s{args.seed}.spans.jsonl")
    (results / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(json.dumps(record, indent=1))
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failures == 0, "attempted": len(samples), "failed": failures,
                      "metrics": metrics}))
    return 0


def add_listener(spark):
    """Record each streaming trigger's progress (phase durations, start)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({"batch": p.batchId, "rows": p.numInputRows,
                                  "timestamp": p.timestamp, "durationMs": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


if __name__ == "__main__":
    sys.exit(main())
