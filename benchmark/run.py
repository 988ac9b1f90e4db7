"""Benchmark entry point: one seeded run of one workload.

    python3 benchmark/run.py --workload search --seed 1 --seconds 14 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and Spark job groups on and reports the
per-layer metrics instead. The last line of standard output is the
result object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is a report with the workload's named metrics, the
input properties and the output checks. See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "cocoindex_data_ingestion_spark")
WORKLOADS = {"search": "wl_search", "ingest": "wl_ingest", "live_update": "wl_live"}


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[key]} for key in ("end_to_end", "per_layer"))


def host_env(work: str) -> None:
    """Size Spark to this host and root every temp dir under ``work``.
    Runs before the package's session module is imported (it reads
    ``SPARK_GRAFT_CPUS`` at import)."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts first gets these too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp


def start_spark(work: str, trace: bool):
    from cocoindex_data_ingestion_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.executor.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job, stage and SQL execution of a run for attribution;
        # an untraced run keeps Spark's defaults
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark(app_name="benchmark", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def trace_summary(tracer, res: dict) -> dict:
    """Self times of the top-level spans (the measured region) and
    everything under them against its traced wall, Spark counts over the
    same spans, and the tracer's own bookkeeping cost."""
    selfs = tracer.self_times()
    tops = [s for s in tracer.spans if s["parent"] is None and s["attrs"].get("top")]
    under = [d for t in tops for d in tracer.subtree(t)]
    wall = res["measured_wall_s"]
    self_sum = sum(selfs[s["id"]] for s in under)
    out = {
        "trace.wall_s": wall,
        "trace.self_sum_s": self_sum,
        "trace.coverage": self_sum / max(wall, 1e-9),
        "trace.overhead_ms": tracer.overhead_s * 1e3,
        "trace.spans": len(tracer.spans),
    }
    # spans another thread opened while a top-level span ran (a stream's
    # foreachBatch callbacks) count towards its Spark work, not its time
    side = [d for s in tracer.spans if s["parent"] is None and not s["attrs"].get("top")
            and any(t["start"] <= s["start"] <= t["end"] for t in tops)
            for d in tracer.subtree(s)]
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{k}"] = sum(s.get("spark", {}).get(k, 0) for s in under + side)
    return out


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "latency_ms": res["latency_ms"],
        "throughput_per_s": res["throughput"],
    }


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None, help="write the spans (JSON lines) here")
    args = ap.parse_args(argv)

    if not os.path.isdir(PKG_DIR):
        print(f"benchmark: package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_metrics()

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host_env(work)
    sys.path.insert(0, ROOT)

    from spans import Tracer

    wl = importlib.import_module(WORKLOADS[args.workload])
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, bool(args.trace), f"{args.workload}-{args.seed}")
        tracer.wrap_package()
        res = wl.run(spark, args.seed, args.seconds, work, tracer)
        tracer.unwrap_package()
        if args.trace:
            tracer.digest()
            layers = dict.fromkeys(layer_units, 0)  # layers this workload skips read 0
            layers.update(wl.layers(tracer, res))
            layers.update(trace_summary(tracer, res))
            if args.trace_out:
                tracer.write(args.trace_out)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(work_root)
            except OSError:
                pass  # another run still owns a directory there
    if os.path.exists(work):
        raise RuntimeError(f"benchmark left {work} behind")

    checks = res["checks"]
    if args.trace:
        # measured here but not declared (the incremental layers of `ingest`)
        extra = {k: v for k, v in layers.items() if k not in layer_units}
        metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_units.items()}
    else:
        extra = {}
        metrics = {k: {"value": v, "unit": e2e_units[k]} for k, v in end_to_end(res).items()}
    print(json.dumps({"report": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_s": session_s, "measured_wall_s": res["measured_wall_s"],
        "wall_s": time.perf_counter() - t_start,
        "inputs": res["props"],
        "named_metrics": {**res["named"], "error_rate": checks["failed"] / checks["attempted"]},
        "checks": checks,
        "layers_not_declared": extra,
    }}, default=str))
    print(json.dumps({
        "correct": checks["failed"] == 0,
        "attempted": checks["attempted"],
        "failed": checks["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
