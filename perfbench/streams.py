"""The two stream workloads: the weather->hotels enrichment, closed loop.

A backlog of seeded weather files is staged before timing. Files are
delivered into the source directory a few at a time, always ahead of the
query, and the query reads one file per trigger, so each micro-batch starts
as soon as the previous one ends. A batch's duration is then the emit
latency a record would see on arrival at an idle query.
"""

from __future__ import annotations

import os
import random
import time

import collect
import fixtures
import gate

SETUP_REPEATS = 3  # setup_s is the median over this many fresh queries
WARMUP_BATCHES = 4  # batches of the measured query before its timed window
LOOKAHEAD = 1  # files delivered ahead of the one the query is reading


# ---------------------------------------------------------------------------
# The adapter: the only code that knows the topology's return contract. If
# weather_hotels_stream starts returning something other than an unstarted
# streaming DataFrame, only these two functions change.
# ---------------------------------------------------------------------------


def start_enrichment(spark, src_dir: str, hotels_path: str, name: str, checkpoint: str):
    """Start ``streaming.weather_hotels_stream`` on a JSON file source,
    one file per trigger, into a memory sink named ``name``."""
    from kafka_streams_task_spark.schemas import HOTELS_RAW, WEATHER_RAW
    from kafka_streams_task_spark.sources.files import read_json_stream
    from kafka_streams_task_spark.streaming import weather_hotels_stream

    hotels = spark.read.schema(HOTELS_RAW).json(hotels_path)
    weather = read_json_stream(spark, src_dir, WEATHER_RAW, max_files_per_trigger=1)
    return (
        weather_hotels_stream(weather, hotels)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def last_emission_per_hotel(spark, name: str) -> dict[str, tuple]:
    """The update-mode changelog folded to its final state: the last row
    emitted for each hotel id. The memory sink keeps batches in arrival
    order, so a monotonically increasing id orders the emissions."""
    from pyspark.sql import functions as F

    rows = (
        spark.table(name)
        .withColumn("_seq", F.monotonically_increasing_id())
        .groupBy("id")
        .agg(F.max_by(F.struct("hash", "country", "city", "address", "name", "avgWeathers"), "_seq").alias("r"))
        .select("id", "r.*")
        .collect()
    )
    return {r.id: gate.enriched_row(r) for r in rows}


# ---------------------------------------------------------------------------


class Feeder:
    """Hard-links staged files into a query's source directory in order;
    links keep the staged, strictly increasing mtimes."""

    def __init__(self, staged: list[str], src_dir: str):
        self.staged = staged
        self.src_dir = src_dir
        self.delivered = 0
        self.delivered_at: list[float] = []  # epoch seconds, per file
        os.makedirs(src_dir)

    def deliver_through(self, n: int) -> None:
        while self.delivered < min(n, len(self.staged)):
            p = self.staged[self.delivered]
            os.link(p, os.path.join(self.src_dir, os.path.basename(p)))
            self.delivered_at.append(time.time())
            self.delivered += 1


def _completed(q) -> int:
    """Micro-batches that read data and finished."""
    lp = q.lastProgress
    if lp is None or lp["numInputRows"] == 0:
        return 0 if lp is None else lp["batchId"]
    return lp["batchId"] + 1


def _pump(q, feeder: Feeder, batches: int | None = None, deadline: float | None = None) -> None:
    """Keep LOOKAHEAD files ahead of the query until it has finished
    ``batches`` batches, the clock passes ``deadline``, or the staged
    backlog is used up."""
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        done = _completed(q)
        if batches is not None and done >= batches:
            return
        if deadline is not None and time.time() >= deadline:
            return
        if done >= len(feeder.staged):
            return
        feeder.deliver_through(done + 1 + LOOKAHEAD)
        time.sleep(0.05)


def run(spark, shape: fixtures.StreamShape, seed: int, seconds: int, tracer, work: str) -> dict:
    rng = random.Random(seed)
    with tracer.span("fixtures.generate"):
        t = time.perf_counter()
        files = fixtures.weather_records(rng, shape)
        hotels = fixtures.hotel_records(rng, shape)
        hotels_path = os.path.join(work, "hotels.json")
        fixtures.write_jsonl(hotels_path, hotels)
        staged = fixtures.stage_weather(os.path.join(work, "staged"), files, time.time() - 3600)
        stage_s = time.perf_counter() - t

    # set-up is a fresh query's start and first micro-batch; the last of
    # the repeats goes on to be the measured query
    setup_times = []
    q = feeder = None
    for rep in range(SETUP_REPEATS):
        if q is not None:
            q.stop()
        name = f"enriched_{rep}"
        with tracer.span("setup", rep=rep):
            t = time.perf_counter()
            feeder = Feeder(staged, os.path.join(work, f"src{rep}"))
            feeder.deliver_through(1 + LOOKAHEAD)
            with tracer.span("streaming.topology.start"):
                q = start_enrichment(spark, feeder.src_dir, hotels_path, name, os.path.join(work, f"ckpt{rep}"))
            _pump(q, feeder, batches=1)
            setup_times.append(time.perf_counter() - t)
    with tracer.span("warmup"):
        _pump(q, feeder, batches=WARMUP_BATCHES)

    cpu = collect.CpuWindow()
    cpu.start()
    deadline = time.time() + seconds
    with tracer.span("timed_window") as win:
        _pump(q, feeder, deadline=deadline)
    cpu.stop()

    with tracer.span("drain"):
        q.processAllAvailable()

    progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
    attempted = progresses[-1]["batchId"] + 1
    timed = [
        p for p in progresses
        if p["batchId"] >= WARMUP_BATCHES
        and collect.progress_start(p) + p["durationMs"]["triggerExecution"] / 1e3 <= deadline
    ]
    # one file per trigger, in mtime order: batch b read staged file b
    if any(p["numInputRows"] != shape.rows_per_file for p in progresses):
        raise RuntimeError("a micro-batch did not read exactly one staged file")
    if not timed:
        raise RuntimeError("no micro-batch finished inside the timed window")
    ends = [collect.progress_start(p) + p["durationMs"]["triggerExecution"] / 1e3 for p in timed]
    first = collect.progress_start(timed[0])
    drain_s = ends[-1] - first
    per_batch = drain_s / len(timed)
    # micro-batch b reads staged file b; its records waited from delivery,
    # behind the batch in flight, until the batch that emitted them ended
    waits = [end - feeder.delivered_at[p["batchId"]] for p, end in zip(timed, ends)]

    with tracer.span("gate"):
        expected = gate.expected_enrichment([r for f in files[: feeder.delivered] for r in f], hotels)
        actual = last_emission_per_hotel(spark, name)
        problems = gate.compare_enrichment(actual, expected)
    q.stop()

    out = {
        "attempted": attempted,
        "failed": attempted if problems else 0,
        "problems": problems,
        "metrics": {
            "rows_per_s": sum(p["numInputRows"] for p in timed) / drain_s,
            "batch_p50_ms": collect.median(p["durationMs"]["triggerExecution"] for p in timed),
            "wall_s": collect.median(waits),
            "cpu_s": cpu.cpu_s / cpu.elapsed * per_batch,
            "setup_s": collect.median(setup_times),
            "peak_rss_mb": collect.peak_rss_mb(collect.process_tree()),
        },
        "layers": {"fixtures.stage_s": stage_s, "timed_samples": float(len(timed))},
    }
    if tracer.enabled:
        collect.trace_batches(tracer, timed, win["id"])
        layers = out["layers"]
        layers.update(collect.stream_layers(timed))
        store = collect.StatusStore(spark)
        jobs = [j for j in store.jobs() if first * 1e3 <= j["start_ms"] <= deadline * 1e3]
        ex = store.exec_layers(jobs)
        for k in ("exec.task_cpu_s", "exec.task_run_s", "exec.shuffle_mb", "exec.jobs", "exec.tasks"):
            ex[k] /= len(timed)
        layers.update(ex)
        layers["exec.python_s"] = cpu.python_s / cpu.elapsed * per_batch
    return out
