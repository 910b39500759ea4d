"""The batch_mix workload: one bounded pass, repeated for the timed window.

A pass runs ``app.run_batch`` over the high-cardinality weather records
(written as one JSON dataset, output to parquet), then the catalog entries
of ``_entries`` through the same public functions bench.py calls, each
counted to completion the way bench.py counts it. The catalog tables are
generated from the seed in the driver's star-schema layout.
"""

from __future__ import annotations

import os
import random
import time

import collect
import fixtures
import gate

SETUP_REPEATS = 3  # staging is timed this many times; setup_s takes the median
WEATHER_FILES = 10


def _entries():
    """name -> (spark, table_dir) -> DataFrame, as bench.py builds them."""
    from kafka_streams_task_spark.catalog.pipeline import (
        latest_event_per_user,
        weather_topology_full,
    )
    from kafka_streams_task_spark.catalog.relational import q3_shipping_priority
    from kafka_streams_task_spark.operators.dedup import minhash_lsh_candidates
    from kafka_streams_task_spark.schemas import load_table

    return {
        # the flagship topology on driver tables: the most Catalyst work
        "weather_topology_full": weather_topology_full,
        # driver-bound: planning is most of its time
        "latest_event_per_user": latest_event_per_user,
        # shuffle joins and a top-k
        "q3_shipping_priority": q3_shipping_priority,
        # the Arrow / Python worker lane
        "dedup_minhash_lsh": lambda s, d: minhash_lsh_candidates(load_table(s, d, "documents")),
    }


_ORACLED = ("weather_topology_full", "latest_event_per_user")

# TPC-H Q3's row count: the qualifying (order, date) groups, capped by its limit
_Q3_COUNT_SQL = """
    SELECT least(10, count(*)) FROM (
      SELECT l_orderkey, o_orderdate FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
      GROUP BY 1, 2)"""


def expected_counts(table_dir: str, planted_pairs: int) -> dict[str, int]:
    """Row counts each entry must return, from DuckDB over the same
    parquet: the catalog's own oracle SQL where it has one."""
    import duckdb

    from kafka_streams_task_spark.catalog import CATALOG

    con = duckdb.connect()
    try:
        for t in ("events", "customer", "orders", "lineitem"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        out = {
            name: con.sql(f"SELECT count(*) FROM ({CATALOG[name].oracle})").fetchone()[0]
            for name in _ORACLED
        }
        out["q3_shipping_priority"] = con.sql(_Q3_COUNT_SQL).fetchone()[0]
    finally:
        con.close()
    # exact copies share every MinHash band; the other documents share no
    # word 3-gram, so the candidates are exactly the planted pairs
    out["dedup_minhash_lsh"] = planted_pairs
    return out


def _stage(work: str, rep: int, seed: int):
    rng = random.Random(seed)
    shape = fixtures.HICARD
    files = fixtures.weather_records(
        rng, fixtures.StreamShape(shape.lat, shape.lng, WEATHER_FILES, shape.rows_per_file, shape.hotels)
    )
    hotels = fixtures.hotel_records(rng, shape)
    base = os.path.join(work, f"stage{rep}")
    weather_dir = os.path.join(base, "weather")
    os.makedirs(weather_dir)
    for i, recs in enumerate(files):
        fixtures.write_jsonl(os.path.join(weather_dir, f"w{i:05d}.json"), recs)
    hotels_path = os.path.join(base, "hotels.json")
    fixtures.write_jsonl(hotels_path, hotels)
    facts = fixtures.write_catalog_tables(os.path.join(base, "tables"), rng)
    return files, hotels, weather_dir, hotels_path, os.path.join(base, "tables"), facts


def _run_entry(spark, fn, table_dir: str, group: str, tracer) -> dict:
    spark.sparkContext.setJobGroup(group, group)
    with tracer.span("entry.build"):
        t0 = time.perf_counter()
        counted = fn(spark, table_dir).groupBy().count()
    with tracer.span("entry.plan"):
        t1 = time.perf_counter()
        counted._jdf.queryExecution().executedPlan()
    with tracer.span("entry.exec"):
        t2 = time.perf_counter()
        rows = counted.collect()[0][0]
        t3 = time.perf_counter()
    return {"rows": rows, "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
            "wall_s": t3 - t0, "df": counted}


def _pass(spark, entries, inputs, out_path: str, tag: str, tracer) -> dict:
    from kafka_streams_task_spark.app import run_batch

    _, _, weather_dir, hotels_path, table_dir, _ = inputs
    res = {}
    t = time.perf_counter()
    with tracer.span("batch.run_batch"):
        spark.sparkContext.setJobGroup(f"{tag}:run_batch", "run_batch")
        run_batch(spark, weather_dir, hotels_path, out_path)
    res["run_batch"] = {"wall_s": time.perf_counter() - t}
    for name, fn in entries.items():
        with tracer.span(f"entry.{name}"):
            res[name] = _run_entry(spark, fn, table_dir, f"{tag}:{name}", tracer)
    return res


def run(spark, seed: int, seconds: int, tracer, work: str) -> dict:
    setup_times = []
    for rep in range(SETUP_REPEATS):
        with tracer.span("fixtures.stage", rep=rep):
            t = time.perf_counter()
            inputs = _stage(work, rep, seed)
            setup_times.append(time.perf_counter() - t)
    files, hotels, weather_dir, hotels_path, table_dir, facts = inputs
    entries = _entries()
    out_path = os.path.join(work, "enriched.parquet")

    with tracer.span("warmup"):
        t = time.perf_counter()
        _pass(spark, entries, inputs, out_path, "warmup", tracer)
        warmup_s = time.perf_counter() - t

    cpu = collect.CpuWindow()
    cpu.start()
    deadline = time.perf_counter() + seconds
    passes = []
    with tracer.span("timed_window"):
        # start another pass only if it should end inside the window
        while not passes or time.perf_counter() + passes[-1]["wall_s"] <= deadline:
            t = time.perf_counter()
            res = _pass(spark, entries, inputs, out_path, f"pass{len(passes)}", tracer)
            res["wall_s"] = time.perf_counter() - t
            passes.append(res)
    cpu.stop()

    with tracer.span("gate"):
        spark.sparkContext.setJobGroup("gate", "gate")
        expected = expected_counts(table_dir, facts["planted_pairs"])
        problems = []
        failed = 0
        for i, res in enumerate(passes):
            for name in entries:
                p = gate.compare_count(f"pass {i} {name}", res[name]["rows"], expected[name])
                failed += bool(p)
                problems += p
        written = {
            r.id: gate.enriched_row(r) for r in spark.read.parquet(out_path).collect()
        }
        p = gate.compare_enrichment(written, gate.expected_enrichment([r for f in files for r in f], hotels))
        failed += bool(p)
        problems += [f"run_batch: {x}" for x in p]
    attempted = len(passes) * (len(entries) + 1)
    n_rows = sum(len(f) for f in files)
    times = [res[e]["wall_s"] for res in passes for e in ["run_batch", *entries]]
    out = {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "metrics": {
            "rows_per_s": collect.median(n_rows / res["run_batch"]["wall_s"] for res in passes),
            "batch_p50_ms": collect.median(times) * 1e3,
            "wall_s": collect.median(res["wall_s"] for res in passes),
            "cpu_s": cpu.cpu_s / len(passes),
            "setup_s": collect.median(setup_times) + warmup_s,
            "peak_rss_mb": collect.peak_rss_mb(collect.process_tree()),
        },
        "layers": {
            "fixtures.stage_s": collect.median(setup_times),
            "batch.warmup_s": warmup_s,
            "timed_samples": float(len(passes)),
        },
    }
    if tracer.enabled:
        layers = out["layers"]
        layers["exec.python_s"] = cpu.python_s / len(passes)
        layers["batch.run_batch_s"] = collect.median(res["run_batch"]["wall_s"] for res in passes)
        store = collect.StatusStore(spark)
        jobs = store.jobs()
        timed_jobs = [j for j in jobs if j["group"] and j["group"].startswith("pass")]
        for i, res in enumerate(passes):
            for name in entries:
                res[name]["jobs"] = sum(j["group"] == f"pass{i}:{name}" for j in jobs)
        ex = store.exec_layers(timed_jobs)
        for k in ("exec.task_cpu_s", "exec.task_run_s", "exec.shuffle_mb", "exec.jobs", "exec.tasks"):
            ex[k] /= len(passes)
        layers.update(ex)
        wall_ms = sum(res["wall_s"] for res in passes) * 1e3
        layers["driver.gap_ms"] = (wall_ms - collect.busy_ms(timed_jobs)) / len(passes)
        phases = [collect.planning_phases_ms(res[e]["df"]) for res in passes for e in entries]
        for k in ("analysis", "optimization", "planning"):
            layers[f"plans.{k}_ms"] = collect.median(ph.get(k, 0.0) for ph in phases)
        for e in entries:
            layers[f"entry.{e}.build_s"] = collect.median(res[e]["build_s"] for res in passes)
            layers[f"entry.{e}.plan_ms"] = collect.median(res[e]["plan_s"] for res in passes) * 1e3
            layers[f"entry.{e}.exec_s"] = collect.median(res[e]["exec_s"] for res in passes)
            layers[f"entry.{e}.jobs"] = collect.median(res[e]["jobs"] for res in passes)
    return out
