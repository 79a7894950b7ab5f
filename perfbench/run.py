"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout: the engine is imported from
``./shopify_db_spark``. Everything the run writes goes under
``./.perfbench_out/``. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json`` and ``--trace 1``
the per-layer ones: spans tag Spark jobs with job groups and Spark's
event log is folded per span.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pin_environment(work: str) -> None:
    """Pin cores, scratch dirs and driver memory before the JVM starts,
    and make the engine importable here and in Python workers."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, declared: dict, work: str) -> dict:
    pin_environment(work)
    import workloads
    from spans import Tracer, fold_event_log

    from shopify_db_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{logs}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=conf)
    spark.range(1).count()
    session_s = time.perf_counter() - t0

    tracer = Tracer(spark.sparkContext if args.trace else None)
    ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds, bool(args.trace))
    workload, check = workloads.WORKLOADS[args.workload]
    try:
        e2e = workload(ctx)
        ctx.layer["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        e2e["setup_s"] = session_s + workloads.median(ctx.setup_s) + ctx.base_load_s
        t_check = time.perf_counter()
        check(ctx)
        checks_s = time.perf_counter() - t_check
    finally:
        stop_spark(spark)

    attempted = ctx.ops + len(ctx.checks) - ctx.failed_ops
    failed = sum(not c["ok"] for c in ctx.checks)
    if args.trace:
        (log,) = glob.glob(os.path.join(work, "eventlog", "*"))
        values = workloads.per_layer(ctx, fold_event_log(log, tracer))
        values["session.get_spark_s"] = session_s
        values["failed_op_ratio"] = failed / attempted
        values["op.samples"] = ctx.ops
    else:
        values = e2e
    unknown = set(values) - set(declared)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_s": session_s, "setup_reps_s": ctx.setup_s,
        "base_load_s": ctx.base_load_s, "checks_s": checks_s, "sizes": ctx.sizes,
        "checks": ctx.checks, "values": values, "spans": tracer.spans,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    for c in ctx.checks:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(values.get(name, 0)), "unit": unit}
            for name, unit in declared.items()
        },
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "shopify_db_spark", "session.py")):
        fail("run from the root of a shopify_db_spark checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")
    kind = "per_layer" if args.trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in spec[kind]}

    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=OUT)
    try:
        result = run(args, declared, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
