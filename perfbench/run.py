"""perfbench: end-to-end and per-layer benchmark of the KG engine.

    python3 perfbench/run.py --workload factory|job_resume \\
        --seed N --seconds S --trace 0|1

Run from the repository root. One client, one driver process, one
operation at a time (closed loop) on ``local[min(4, nproc)]``. Human-
readable lines go to stdout first; the last stdout line is the JSON
result: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Everything the run writes stays under ``perfbench/_work``.
See perfbench/README.md for the workloads, metrics and predictions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
MAX_THREADS = 4
DRIVER_HEAP = "4g"  # explicit maximum: session.py's 16g default overcommits a 15 GiB host

END_TO_END = {
    "wall_s": "s", "turns_per_s": "1/s", "setup_s": "s", "output_mb": "MB", "ok_share": "share",
}
FACTORY_SPANS = (
    "extract.mentions", "extract.conv_wide", "link.facts", "aggregates.field_values",
    "emit.model_docs", "triples.model", "emit.round_triples",
)
JOB_SPANS = (
    "job.self", "tables.write.triples", "tables.write.other", "job.entities",
    "job.near_dups", "canon.cc", "job.graph",
)
SPAN_METRICS = {
    "wall_s": "s", "self_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "jobs": "count",
}
COMMIT_METRICS = ("wall_s", "self_s", "jobs")  # manifest writes run no Spark jobs
COUNTERS = {
    "link.facts.linked_ratio": "ratio", "job.entities.memo_hit_ratio": "ratio",
    "job.near_dups.dropped_rows": "count", "canon.cc.iterations": "count",
    "trace.overhead_s": "s", "trace.task_share": "ratio",
    "trace.op_wall_s": "s", "trace.op_task_s": "s", "process.peak_rss_mb": "MB",
}


def per_layer_units() -> dict:
    units = {}
    for name in FACTORY_SPANS + JOB_SPANS:
        units.update({f"{name}.{m}": u for m, u in SPAN_METRICS.items()})
    units.update({f"tables.commit.{m}": SPAN_METRICS[m] for m in COMMIT_METRICS})
    units.update(COUNTERS)
    return units


def _span_matchers() -> dict:
    m = {name: (lambda n, name=name: n == name) for name in FACTORY_SPANS + JOB_SPANS}
    m["tables.write.other"] = (
        lambda n: n.startswith("tables.write.") and n != "tables.write.triples"
    )
    m["tables.commit"] = lambda n: n == "tables.commit"
    return m


def _environment(spark, threads: int, partitions: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_total = next(line.split()[1] for line in f if line.startswith("MemTotal:"))
    return {
        "master": spark.sparkContext.master,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "input_partitions": partitions,
        "task_threads": threads,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": int(mem_total) / 1024,
        "spark_version": spark.version,
        "python": platform.python_version(),
    }


def _prepare_env() -> None:
    """Keep every file the run (JVM, Spark, Python workers) writes inside
    the checkout, and let the workers import the engine from it."""
    for d in ("tmp", "local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    sys.path[:0] = [str(ROOT), str(HERE)]


def _start_session(threads: int, partitions: int, trace: bool):
    from smh_to_jsonld_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job and stage of a traced op in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark(
        app_name="perfbench", master=f"local[{threads}]", shuffle_partitions=partitions,
        extra_conf=conf,
    )


def _stop_session(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _end_to_end(res: dict, setup_s: float) -> dict:
    ops = res["ops"]
    wall = statistics.median(ops.walls)
    return {
        "wall_s": wall,
        "turns_per_s": res["n_turns"] / wall,
        "setup_s": setup_s,
        "output_mb": res["output_mb"],
        "ok_share": 1 - ops.failed / ops.attempted,
    }


def _per_layer(tr: dict, peak_rss_mb: float) -> dict:
    import spans

    rolled = spans.rollup(tr["spans"], _span_matchers())
    out = {}
    for name, agg in rolled.items():
        metrics = COMMIT_METRICS if name == "tables.commit" else SPAN_METRICS
        out.update({f"{name}.{m}": agg[m] for m in metrics})
    for key in COUNTERS:
        if not key.startswith(("trace.", "process.")):
            out[key] = tr["counters"].get(key, 0)
    out.update({
        "trace.overhead_s": tr["overhead_s"], "trace.task_share": tr["task_share"],
        "trace.op_wall_s": tr["op_wall_s"], "trace.op_task_s": tr["total_task_s"],
        "process.peak_rss_mb": peak_rss_mb,
    })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("factory", "job_resume"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "smh_to_jsonld_spark" / "__init__.py").is_file():
        print(f"perfbench: no smh_to_jsonld_spark package in {ROOT}", file=sys.stderr)
        return 2
    _prepare_env()
    import workloads

    threads = min(MAX_THREADS, len(os.sched_getaffinity(0)))
    partitions = 2 * threads  # session.py: shuffle partitions ~2-3x total cores
    t0 = time.perf_counter()
    spark = _start_session(threads, partitions, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        env = _environment(spark, threads, partitions)
        ctx = workloads.Context(spark, args.seed, args.seconds, bool(args.trace), WORK, partitions)
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        _stop_session(spark)

    ops = res["ops"]
    if not ops.walls:
        print(f"perfbench: every {args.workload} op failed", file=sys.stderr)
        return 1
    setup_parts = {"session_s": session_s, **res["setup_parts"]}
    checks = res["checks"]
    correct = ops.failed == 0 and all(checks.values())
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": env, "setup_parts": setup_parts,
        "op_walls_s": ops.walls, "checks": checks, "info": res.get("info", {}),
    }
    print(f"environment: {json.dumps(env)}")
    print(f"setup parts: {json.dumps(setup_parts)}")
    print(f"wall_s per op: median {statistics.median(ops.walls):.3f} min {min(ops.walls):.3f} "
          f"max {max(ops.walls):.3f} n={len(ops.walls)}")
    print(f"failed_share {ops.failed / ops.attempted} share ({ops.failed} of {ops.attempted} ops)")
    print(f"peak_rss_mb {res['peak_rss_mb']:.6g} MB")
    if args.trace:
        tr = res["trace"]
        metrics = _per_layer(tr, res["peak_rss_mb"])
        units = per_layer_units()
        trace_path = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        trace_path.parent.mkdir(parents=True, exist_ok=True)
        trace_path.write_text(json.dumps({**record, "trace": tr, "metrics": metrics}, indent=1))
        print(f"trace artifact: {trace_path.relative_to(ROOT)}")
        print(f"labelled task time {tr['labelled_task_s']:.3f} s of {tr['total_task_s']:.3f} s "
              f"({tr['task_share']:.2%}); tracing overhead {tr['overhead_s']:+.3f} s "
              f"(traced op {tr['op_wall_s']:.3f} s, untraced {tr['untraced_op_wall_s']:.3f} s)")
    else:
        metrics = _end_to_end(res, sum(setup_parts.values()))
        units = END_TO_END
        for name, value in metrics.items():
            print(f"{name} {value:.6g} {units[name]}")
    print(f"checks: {json.dumps(checks)}")
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**record, "metrics": metrics}, indent=1, default=str)
    )
    print(json.dumps({
        "correct": correct, "attempted": ops.attempted, "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
