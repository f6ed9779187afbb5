"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload live_index --seed 1 --seconds 3

Run from the root of a checkout. The engine is driven in-process at
local[<cores>] from one driver thread. Inputs are generated from --seed.
With --trace 0 the last stdout line carries the end-to-end metrics named
in BENCHMARK.json; with --trace 1 it carries the per-layer metrics,
derived from spans recorded around the engine's public calls. Lines
before it name the same figures by the metric names of the benchmark's
README, with units. Everything the run writes stays under
.perfbench-work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# ungated latencies that the traced run also reports, for its overhead
TRACED_REPORTS = (
    "query_p50_ms", "filtered_query_p50_ms", "fresh_query_p50_ms",
)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, ROOT)


def _isolate(work: str) -> None:
    """Keep every file the run writes (Python temp files, the JVM's
    temp and shuffle dirs) inside the checkout; make the package
    importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM spark-submit starts, the launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def _start_spark(work: str, cores: int):
    from opensearch_jvector_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = "4g"
    spark = get_spark(
        "perfbench", cores=cores, shuffle_partitions=4,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _calibrate_span_cost(tracer_cls) -> float:
    """Cost of one traced call over a plain one, in microseconds."""
    import types

    mod = types.SimpleNamespace(f=lambda: None)
    n = 20_000
    t0 = time.perf_counter()
    for _ in range(n):
        mod.f()
    plain = time.perf_counter() - t0
    tr = tracer_cls(True)
    tr.wrap(mod, "f", "calibrate")
    t0 = time.perf_counter()
    for _ in range(n):
        mod.f()
    traced = time.perf_counter() - t0
    return max(0.0, (traced - plain) / n * 1e6)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # fail fast, before any process starts, when the engine is absent
    import opensearch_jvector_spark  # noqa: F401

    import layers
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")

    work = os.path.join(
        ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    _isolate(work)
    tracer = spans.Tracer(enabled=bool(args.trace))
    if args.trace:
        spans.install(tracer)
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = _start_spark(work, cores)
    session_s = time.perf_counter() - t0
    try:
        jobs = spans.JobCounter(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, args.seed, args.seconds, work, tracer, jobs)
        workloads.WORKLOADS[args.workload](run)
        jobs.collect()
    finally:
        tracer.uninstall()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    run.e2e["setup_s"] += session_s
    run.e2e["driver_peak_rss_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    )
    run.report["failed_op_frac"] = (
        run.failed / max(1, run.attempted), "ratio"
    )
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, (value, unit) in [
        *((n, (v, units[n])) for n, v in run.e2e.items()),
        *run.report.items(),
    ]:
        print(f"{args.workload} seed={args.seed} {name} = {value:.6g} {unit}")

    if args.trace:
        values = layers.derive(run, tracer, jobs)
        values["trace.span_cost_us"] = _calibrate_span_cost(spans.Tracer)
        values.update({f"traced.{k}": v for k, v in run.e2e.items()})
        values.update({
            f"traced.{k}": run.report[k][0] for k in TRACED_REPORTS
        })
        for name, value in values.items():
            tags = layers.MOVES.get(
                name, "vs the untraced run: the tracing overhead"
            )
            print(f"{args.workload} layer {name} = {value:.6g}  -> {tags}")
        for kind, usage in layers.jobs_by_kind(jobs).items():
            print(f"{args.workload} spark {kind}: {usage}")
        os.makedirs(os.path.join(ROOT, ".perfbench-work", "traces"),
                    exist_ok=True)
        tracer.dump(os.path.join(
            ROOT, ".perfbench-work", "traces",
            f"{args.workload}-seed{args.seed}.json",
        ))
        wanted = spec["per_layer"]
    else:
        values = run.e2e
        wanted = spec["end_to_end"]

    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
