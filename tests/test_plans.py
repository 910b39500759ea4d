"""Physical-plan quality gates: these tests pin the 100 TB-relevant plan
properties — broadcast joins where a side is bounded, filter/column pushdown
into parquet scans, and Python-free hot paths. A regression here is a
performance bug even if results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_enrich_join_is_broadcast(spark):
    """The per-geohash rollup is bounded by 32^4 cells — it must broadcast,
    never shuffle the hotel side."""
    from kafka_streams_task_spark.operators.weather import (
        enrich_hotels,
        weather_by_geohash,
        weather_daily_avg,
    )

    weather = spark.createDataFrame(
        [("u09t", "2020-01-01", 70.0, 21.0)], ["geohash", "wthr_date", "tmp_f", "tmp_c"]
    )
    hotels = spark.createDataFrame(
        [("u09t", "US", "C", "A", "H1", "1")],
        ["hash", "country", "city", "address", "name", "id"],
    )
    plan = _plan(enrich_hotels(hotels, weather_by_geohash(weather_daily_avg(weather))))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_weather_pipeline_has_no_python_nodes(spark):
    """Geohash is a native expression: the whole batch pipeline must stay
    JVM-side (no Arrow/Python eval)."""
    from kafka_streams_task_spark.operators.weather import (
        parse_hotels,
        parse_weather,
        weather_hotels_pipeline,
    )

    weather = spark.createDataFrame(
        [('{"lat":1.0,"lng":2.0,"wthr_date":"d","avg_tmpr_f":1.0,"avg_tmpr_c":1.0}',)], ["value"]
    )
    hotels = spark.createDataFrame(
        [('{"Id":"1","Name":"n","Country":"c","City":"c","Address":"a","Latitude":"1","Longitude":"2","Hash":"s000"}',)],
        ["value"],
    )
    plan = _plan(weather_hotels_pipeline(parse_weather(weather), parse_hotels(hotels)))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _node_names(plan) -> list[str]:
    names = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        names += _node_names(children.apply(i))
    return names


def test_weather_hotels_stream_has_no_python_nodes(spark, tmp_path):
    """The streaming rollup is one JVM aggregation: a started query's
    executed plan holds no Python, pandas or Arrow operator."""
    from kafka_streams_task_spark.schemas import HOTELS_RAW, WEATHER_RAW
    from kafka_streams_task_spark.sources.files import read_json_stream
    from kafka_streams_task_spark.streaming import weather_hotels_stream

    src = tmp_path / "weather"
    src.mkdir()
    (src / "b0.json").write_text(
        '{"lat":51.51,"lng":-0.07,"wthr_date":"d","avg_tmpr_f":1.0,"avg_tmpr_c":1.0}\n'
    )
    hotels = spark.createDataFrame(
        [("1", "n", "c", "c", "a", "1", "2", "gcpv")], schema=HOTELS_RAW
    )
    stream = read_json_stream(spark, str(src), WEATHER_RAW)
    q = (
        weather_hotels_stream(stream, hotels)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    names = _node_names(q._jsq.streamingQuery().lastExecution().executedPlan())
    assert "StateStoreSave" in " ".join(names), names
    assert not [n for n in names if any(w in n for w in ("Python", "Pandas", "Arrow"))], names


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    from kafka_streams_task_spark.catalog.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the needed columns reach the scan
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_quantity" in read_schema and "l_orderkey" not in read_schema


def test_q5_broadcasts_dimensions(spark, sf_dir):
    from kafka_streams_task_spark.catalog.relational import q5_local_supplier_volume

    plan = _plan(q5_local_supplier_volume(spark, sf_dir))
    # nation/region/supplier/customer broadcast; at most the lineitem-orders
    # join may be a shuffle join
    assert plan.count("BroadcastHashJoin") >= 4


def test_top_k_uses_take_ordered(spark, sf_dir):
    from kafka_streams_task_spark.catalog.relational import q3_shipping_priority

    plan = _plan(q3_shipping_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort for order-by-limit


def test_latest_per_key_is_single_aggregation(spark):
    """A6 must be one hash aggregation (max_by), not a window sort."""
    from kafka_streams_task_spark.operators.weather import latest_per_key

    df = spark.createDataFrame([("k", 1, "v")], ["k", "o", "v"])
    plan = _plan(latest_per_key(df, "k", "o"))
    assert "Window" not in plan
    assert "max_by" in _optimized(latest_per_key(df, "k", "o")).lower() or "HashAggregate" in plan


def test_dedup_exact_shuffles_digest_not_text(spark, sf_dir):
    """The exact-dedup shuffle must carry the 16-byte digest, not document
    text: text may appear only below the exchange (scan/projection), and the
    exchange partitions on the digest."""
    from kafka_streams_task_spark.operators.dedup import dedup_exact
    from kafka_streams_task_spark.schemas import load_table

    plan = _plan(dedup_exact(load_table(spark, sf_dir, "documents")))
    assert "Exchange hashpartitioning(digest" in plan
    # partial aggregation below the exchange (map-side combine on digest)
    before_exchange = plan.split("Exchange hashpartitioning(digest")[1]
    assert "partial" in before_exchange

def test_weather_topology_full_plan(spark, sf_dir):
    """The flagship topology: broadcast enrichment join, zero Python nodes,
    partial+final aggregation at both levels."""
    from kafka_streams_task_spark.catalog.pipeline import weather_topology_full

    df = weather_topology_full(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x two levels


def test_sql_surface_runs_flagship(spark, sf_dir):
    """The engine's SQL entry point: the flagship topology expressed as one
    Spark SQL statement over registered views produces the same result as
    the DataFrame form."""
    from kafka_streams_task_spark.catalog.pipeline import weather_topology_full
    from kafka_streams_task_spark.schemas import register_views

    register_views(spark, sf_dir)
    spark.udf.register(
        "geohash2",
        lambda lat, lng: __import__(
            "kafka_streams_task_spark.functions.geohash", fromlist=["geohash_encode"]
        ).geohash_encode(lat, lng, 2),
    )
    sql = """
    WITH keyed AS (
      SELECT geohash2((value % 180.0) - 90.0, ((value * 7.0) % 360.0) - 180.0) AS gh,
             CAST(date_trunc('day', ts) AS DATE) AS day, value
      FROM events
    ), daily AS (
      SELECT gh, day, avg(value) AS tmp FROM keyed GROUP BY gh, day
    ), cells AS (
      SELECT gh, count(*) AS n_days, round(avg(tmp) + 1e-07, 4) AS avg_tmp
      FROM daily GROUP BY gh
    ), hotels AS (
      SELECT c_custkey,
             geohash2((c_acctbal % 180.0) - 90.0, ((c_acctbal * 7.0) % 360.0) - 180.0) AS hash
      FROM customer
    )
    SELECT h.c_custkey, c.n_days, c.avg_tmp
    FROM hotels h JOIN cells c ON h.hash = c.gh
    """
    got = {
        (r.c_custkey): (r.n_days, r.avg_tmp) for r in spark.sql(sql).collect()
    }
    exp = {
        (r.c_custkey): (r.n_days, r.avg_tmp)
        for r in weather_topology_full(spark, sf_dir).collect()
    }
    assert got == exp


def test_pack_sequences_single_shuffle(spark):
    """Packing's distributed shape: exactly one Exchange (the hash
    repartition), a JVM per-partition Sort, and one Arrow stage — any
    extra shuffle or Python node is a regression."""
    from kafka_streams_task_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * (1 + i % 9)) for i in range(50)], ["doc_id", "text"]
    )
    plan = _plan(pack_sequences(docs, budget=64, num_partitions=8))
    assert plan.count("Exchange") == 1
    assert "Sort" in plan
    assert plan.count("MapInPandas") == 1


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """Decontamination never shuffles the corpus against itself: the
    benchmark shingle set broadcasts into a LeftSemi join and the corpus is
    scanned exactly once."""
    from kafka_streams_task_spark.operators.dedup import decontaminate
    from kafka_streams_task_spark.schemas import load_table

    corpus = load_table(spark, sf_dir, "documents")
    bench = corpus.filter(F.col("doc_id") % 29 == 0).select("text")
    plan = _plan(decontaminate(corpus, bench))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_events_load_warns_on_non_utc_session(spark, sf_dir):
    """ADVICE r4: load_table('events') must not SILENTLY overwrite a
    caller's non-UTC session timezone — it warns (the pin must persist
    through lazy execution, so restoring would shift instants)."""
    import warnings

    from kafka_streams_task_spark.schemas import load_table

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            load_table(spark, sf_dir, "events")
        assert any("pins spark.sql.session.timeZone" in str(w.message) for w in caught)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # a UTC session loads silently
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            load_table(spark, sf_dir, "events")
        assert not caught
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_bm25_filters_tokens_before_shuffle_and_group_limits(spark, sf_dir):
    """BM25's tf aggregation must see only query-matched tokens (the
    broadcast semi-filter sits BELOW the aggregate) and the top-k must
    compile to WindowGroupLimit, not a full window sort."""
    from kafka_streams_task_spark.functions.text import tokens
    from kafka_streams_task_spark.operators.tfidf import bm25_top_docs
    from kafka_streams_task_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.limit(2).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(tokens(F.col("text")), 1, 4), " ").alias("text"),
    )
    plan = _plan(bm25_top_docs(docs, queries, k=5))
    assert "WindowGroupLimit" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the token-side join with the query-term set must be a broadcast
    assert "BroadcastHashJoin" in plan
    # opt-r16 pin: exactly one EXPLODED corpus pass (the tf chain) plus
    # the two query-side explodes — the dl/stats branches must stay
    # scalar size() projections, and the inferred size(tokens)>0
    # generator filter must not re-materialize the tokenize below an
    # exchange as a fourth corpus explode.
    lit_queries = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "query_id long, text string"
    )
    lit_plan = _plan(bm25_top_docs(docs, lit_queries, k=5))
    n_explodes = lit_plan.count("Generate explode")
    assert n_explodes <= 3, lit_plan


def test_classifier_scoring_is_jvm_only(spark, sf_dir):
    """Feature hashing + margin scoring is pure column arithmetic: no
    Python anywhere, and the weight join broadcastable."""
    from kafka_streams_task_spark.operators.classifier import (
        hashed_features,
        logreg_score,
    )
    from kafka_streams_task_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    weights = (
        hashed_features(docs, n_features=4096)
        .select("idx")
        .distinct()
        .withColumn("w", ((F.col("idx") % 997) - 498) / F.lit(1000.0))
    )
    plan = _plan(logreg_score(docs, weights, n_features=4096))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cdc_merge_single_aggregate_no_window(spark, sf_dir):
    """apply_changes must collapse the delta with ONE hash aggregate
    (max_by) — no window sort — and stay Python-free."""
    from kafka_streams_task_spark.operators.merge import (
        OP_UPSERT,
        apply_changes,
    )
    from kafka_streams_task_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ch = ev.limit(100).select(
        "event_id", "user_id", (F.col("value") + 1).alias("value"),
        F.lit(OP_UPSERT).alias("op"), F.lit(1).alias("version"),
    )
    plan = _plan(apply_changes(ev, ch, ["event_id"]))
    assert "Window" not in plan, "latest_changes must be max_by, not a window"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
