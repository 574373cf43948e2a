"""georip_spark benchmark: one workload, one run, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload build_bcast --seed 1 --seconds 8 --trace 0

Workloads: build_bcast, docs_resume (see workloads.py).

With ``--trace 0`` the workload's operations are timed for ``--seconds``
and the end-to-end metrics are reported:

    setup_s      session start, input generation and storage, warm-up
    op_s_p50     median latency of the main operation: the build to a
                 complete docs_out (build_bcast), the full checkpointed
                 write (docs_resume)
    op2_s_p50    median latency of the second operation: build_dataset
                 returning its lazy result, incl. the probe jobs it runs
                 (build_bcast); the resume after a quarter of the buckets
                 of each full write is dropped (docs_resume)
    rows_per_s   spans in the main operation's output / op_s_p50
    peak_rss_mb  peak resident memory of the JVM and its Python workers

With ``--trace 1`` the main operation runs untraced and with a span
around each call into a layer, in turn; the per-layer metrics are
reported and the spans are written to ``perfbench/_out/``.

The engine runs with ``get_spark`` defaults; only deployment settings
are passed: master ``local[<cores>]``, driver memory sized from host
RAM, no console progress bar, and local/temp directories, PYTHONPATH
and the worker interpreter from the environment. Failed or incorrect
operations are counted in the result's ``failed`` field.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op2_s_p50": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def deployment(work: str) -> dict[str, str]:
    """Deployment settings: an eighth of host RAM for the driver JVM
    (which holds every executor in local mode), at least 1 GiB and at
    most 8 GiB; no progress bar. Engine tuning stays at the get_spark
    defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Arrow/pandas UDF workers import georip_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    mem = max(1024, min(8192, host_mem_mb() // 8))
    return {
        "spark.driver.memory": f"{mem}m",
        "spark.ui.showConsoleProgress": "false",
    }


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: str):
    """Set up the workload, measure or trace it; returns it and its metrics."""
    conf = deployment(work)
    sys.path.insert(1, ROOT)
    import georip_spark
    from georip_spark import synth

    import workloads
    from tracing import PeakRss, Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    synth.SEED = args.seed  # synth reads it at call time

    t0 = time.perf_counter()
    spark = georip_spark.get_spark(
        f"perfbench-{args.workload}", master=f"local[{cores()}]", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        rss = PeakRss(spark.sparkContext._gateway.proc.pid)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        tr = Tracer(spark) if args.trace else None
        if tr:
            tr.record("session", t0, t0 + session_s)
        t1 = time.perf_counter()
        wl.make_inputs()
        t2 = time.perf_counter()
        wl.warm_up()
        t3 = time.perf_counter()
        setup_s = t3 - t0
        if tr:
            layer = dict.fromkeys(workloads.LAYER_METRICS, 0.0)
            layer.update(wl.trace(tr))
            layer.update(workloads.spark_totals(spark, tr))
            layer["session.start_s"] = session_s
            peak = rss.close()
            metrics = {k: {"value": layer[k], "unit": u}
                       for k, u in workloads.LAYER_METRICS.items()}
            tr.dump(os.path.join(HERE, "_out", f"trace-{args.workload}-{args.seed}.json"),
                    metrics)
        else:
            wl.measure(args.seconds)
            peak = rss.close()
            op, op2 = wl.samples["op"], wl.samples["op2"]
            p50 = statistics.median(op)
            values = {
                "setup_s": setup_s,
                "op_s_p50": p50,
                "op2_s_p50": statistics.median(op2),
                "rows_per_s": wl.rows / p50,
                "peak_rss_mb": peak / 2**20,
            }
            print(f"{args.workload}: session_s={session_s:.3f} inputs_s={t2 - t1:.3f} "
                  f"warm_s={t3 - t2:.3f} rows={wl.rows} "
                  f"op={[round(x, 3) for x in op]} op2={[round(x, 3) for x in op2]}")
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        stop(spark)
    return wl, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        wl, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    for name, m in metrics.items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
