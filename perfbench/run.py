"""Benchmark of the weather->hotels engine: two closed-loop streams and a
batch mix, each a workload of its own.

    python3 perfbench/run.py --workload stream_hicard --seed 1 --seconds 6 --trace 0

Runs from any working directory. All inputs are generated from ``--seed``
and written under ``.bench_work/`` beside this directory; traces go to
``.bench_out/``. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
exit code is 0 only when every output passed the correctness gate.
See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "rows_per_s": "rows/s",
    "batch_p50_ms": "ms",
    "wall_s": "s",
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

BATCH_ENTRIES = (
    "weather_topology_full",
    "latest_event_per_user",
    "q3_shipping_priority",
    "dedup_minhash_lsh",
)

PER_LAYER = {
    "session_start_s": "s",
    "fixtures.stage_s": "s",
    "timed_samples": "count",
    "batch.warmup_s": "s",
    "traced.batch_p50_ms": "ms",
    "traced.wall_s": "s",
    "sources.files.offset_ms": "ms",
    "sources.files.get_batch_ms": "ms",
    "sources.files.input_rows": "rows",
    "plans.query_planning_ms": "ms",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "streaming.topology.add_batch_ms": "ms",
    "streaming.topology.state_rows": "rows",
    "streaming.topology.state_rows_updated": "rows",
    "streaming.topology.state_mb": "MB",
    "streaming.topology.state_update_ms": "ms",
    "streaming.topology.state_commit_ms": "ms",
    "streaming.topology.ms_per_updated_cell": "ms",
    "streaming.topology.output_rows": "rows",
    "sink.commit_ms": "ms",
    "driver.gap_ms": "ms",
    "exec.task_cpu_s": "s",
    "exec.task_run_s": "s",
    "exec.python_s": "s",
    "exec.shuffle_mb": "MB",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_skew": "ratio",
    "batch.run_batch_s": "s",
    **{
        f"entry.{e}.{m}": u
        for e in BATCH_ENTRIES
        for m, u in (("build_s", "s"), ("plan_ms", "ms"), ("exec_s", "s"), ("jobs", "count"))
    },
}


def _prepare_environment(work: str) -> None:
    """Everything the JVM and the Python workers inherit: the package on
    the workers' path, and every temporary file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def _start_session(work: str):
    from kafka_streams_task_spark.plans import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every remaining child."""
    import collect
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(collect.process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in collect.process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run_workload(name: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    import batch
    import collect
    import fixtures
    import streams

    tracer = collect.Tracer(trace, f"{name}-{seed}")
    t = time.perf_counter()
    spark = _start_session(work)
    session_start_s = time.perf_counter() - t
    try:
        with tracer.span(name, seed=seed, seconds=seconds):
            if name == "stream_hicard":
                res = streams.run(spark, fixtures.HICARD, seed, seconds, tracer, work)
            elif name == "stream_lowcard":
                res = streams.run(spark, fixtures.LOWCARD, seed, seconds, tracer, work)
            else:
                res = batch.run(spark, seed, seconds, tracer, work)
    finally:
        _stop_session(spark)
    res["layers"]["session_start_s"] = session_start_s
    if trace:
        res["layers"]["traced.batch_p50_ms"] = res["metrics"]["batch_p50_ms"]
        res["layers"]["traced.wall_s"] = res["metrics"]["wall_s"]
        tracer.dump(os.path.join(ROOT, ".bench_out", f"trace-{name}-{seed}.jsonl"))
    return res


def result_line(res: dict, trace: bool) -> str:
    if trace:
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res["metrics"][k]), "unit": u} for k, u in END_TO_END.items()}
    return json.dumps(
        {
            "correct": res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        }
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["stream_hicard", "stream_lowcard", "batch_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka_streams_task_spark")):
        print(f"error: the package is not next to {HERE}; nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_environment(work)
    try:
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in res.get("problems", []):
        print(f"gate: {p}", file=sys.stderr)
    print(result_line(res, bool(args.trace)))
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
