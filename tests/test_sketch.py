"""Misra-Gries heavy-hitter sketch: candidate bound, retention guarantee,
and exact-recount top-k parity with the full aggregation."""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sketch_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _corpus(spark, rng, n_docs=300, vocab=400, doc_len=60, zipf_s=1.3):
    # zipf-ish corpus so a real top-k exists
    weights = [1.0 / (i + 1) ** zipf_s for i in range(vocab)]
    total = sum(weights)
    probs = [w / total for w in weights]
    words = [f"w{i}" for i in range(vocab)]
    rows = []
    for d in range(n_docs):
        toks = rng.choices(words, weights=probs, k=doc_len)
        rows.append((d, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_topk_matches_full_aggregation(spark):
    from kafka_streams_task_spark.operators.sketch import topk_tokens_sketched

    rng = random.Random(31)
    docs = _corpus(spark, rng)
    got = [
        (r["rank"], r["token"], r["n"])
        for r in topk_tokens_sketched(docs, k=15, capacity=1024)
        .orderBy("rank")
        .collect()
    ]
    exact = (
        docs.select(F.explode(F.split(F.trim("text"), r"[ \t\n\r\f]+")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("t").asc())
        .limit(15)
        .collect()
    )
    want = [(i + 1, r["t"], r["n"]) for i, r in enumerate(exact)]
    assert got == want


def test_candidate_bound_and_retention_guarantee(spark):
    from kafka_streams_task_spark.operators.sketch import misra_gries_candidates

    rng = random.Random(7)
    docs = _corpus(spark, rng, n_docs=200).repartition(4)
    capacity = 64
    cands = misra_gries_candidates(docs, capacity=capacity).collect()
    # at most capacity candidates per partition
    assert len(cands) <= 4 * capacity
    # retention guarantee: every token with global count > N/(capacity+1)
    # appears among the candidates
    counts = {}
    for r in docs.collect():
        for t in r["text"].split():
            counts[t] = counts.get(t, 0) + 1
    n_total = sum(counts.values())
    guaranteed = {t for t, c in counts.items() if c > n_total / (capacity + 1)}
    cand_set = {r["token"] for r in cands}
    assert guaranteed <= cand_set, guaranteed - cand_set


def test_planted_decrement_dynamics(spark):
    """capacity=2 on a stream whose c/d arrivals force decrement-all
    steps; exact recount still lands 'a' with its true count."""
    from kafka_streams_task_spark.operators.sketch import topk_tokens_sketched

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b b c"), (3, "d")], "doc_id long, text string"
    ).coalesce(1)
    rows = topk_tokens_sketched(docs, k=1, capacity=2).collect()
    assert [(r["rank"], r["token"], r["n"]) for r in rows] == [(1, "a", 4)]


def test_validation(spark):
    import pytest

    from kafka_streams_task_spark.operators.sketch import (
        misra_gries_candidates,
        topk_tokens_sketched,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="capacity"):
        misra_gries_candidates(docs, capacity=0)
    with pytest.raises(ValueError, match="k must be"):
        topk_tokens_sketched(docs, k=0)


def test_merge_mg_summaries_guarantee(spark):
    """Merged summaries keep the single-pass guarantee: every token with
    global count > N/(capacity+1) survives an arbitrary merge tree, and
    every retained lower bound is a true undercount."""
    import random as _random

    from kafka_streams_task_spark.operators.sketch import (
        merge_mg_summaries,
        misra_gries_candidates,
    )

    rng = _random.Random(41)
    a = _corpus(spark, rng, n_docs=80, vocab=150).repartition(3)
    b = _corpus(spark, rng, n_docs=80, vocab=150).repartition(3)
    capacity = 48
    merged = merge_mg_summaries(
        misra_gries_candidates(a, capacity=capacity).unionByName(
            misra_gries_candidates(b, capacity=capacity)
        ),
        capacity,
    ).collect()
    assert len(merged) <= capacity
    counts: dict[str, int] = {}
    for df in (a, b):
        for r in df.collect():
            for t in r["text"].split():
                counts[t] = counts.get(t, 0) + 1
    n_total = sum(counts.values())
    lb = {r["token"]: r["lower_bound"] for r in merged}
    # lower bounds never exceed true counts, undercount bounded
    for tok, v in lb.items():
        assert v <= counts[tok]
        assert counts[tok] - v <= n_total / (capacity + 1) + 1e-9
    guaranteed = {t for t, c in counts.items() if c > n_total / (capacity + 1)}
    assert guaranteed <= set(lb), guaranteed - set(lb)


def test_streaming_top_tokens_cross_batch(spark, tmpdir):
    """Cumulative streaming summary: after two micro-batches the summary
    reflects BOTH batches (a token heavy only in aggregate ranks top),
    retained tokens obey the cumulative guarantee, and replaying the
    input is a no-op."""
    import json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.streaming.sketch import (
        read_top_tokens,
        streaming_top_tokens,
    )

    # 'cumul' appears 6x per batch — never the within-batch max (the
    # batch-local 'b0max'/'b1max' have 8) but the cumulative max (12)
    b0 = [{"doc_id": 1, "text": "cumul " * 6 + "b0max " * 8}]
    b1 = [{"doc_id": 2, "text": "cumul " * 6 + "b1max " * 8}]
    src = f"{tmpdir}/hh_in"
    os.makedirs(src)
    with open(f"{src}/b0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b0))
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b1))
    os.utime(f"{src}/b0.json", (1000000000, 1000000000))
    os.utime(f"{src}/b1.json", (1000000100, 1000000100))
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    state_dir = f"{tmpdir}/hh_state"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    q = streaming_top_tokens(stream, state_dir, f"{tmpdir}/hh_ckpt", capacity=16)
    q.awaitTermination(120)

    top = read_top_tokens(spark, state_dir, k=3).collect()
    assert top[0]["token"] == "cumul" and top[0]["lower_bound"] == 12
    assert {r["token"] for r in top} == {"cumul", "b0max", "b1max"}

    # replay no-op: summary for each batch id already committed
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    q2 = streaming_top_tokens(stream2, state_dir, f"{tmpdir}/hh_ckpt", capacity=16)
    q2.awaitTermination(120)
    top2 = read_top_tokens(spark, state_dir, k=3).collect()
    assert [(r["token"], r["lower_bound"]) for r in top2] == [
        (r["token"], r["lower_bound"]) for r in top
    ]


def test_sketch_plan_shapes(spark):
    """Physical-plan pins: phase 1 (MG candidates) must contain ZERO
    exchanges (pure map-side Arrow stage); the full top-k plan keeps the
    candidate join broadcast (no shuffle of the exploded token stream
    beyond the final bounded aggregate)."""
    from kafka_streams_task_spark.operators.sketch import (
        misra_gries_candidates,
        topk_tokens_sketched,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    p1 = (
        misra_gries_candidates(docs, capacity=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in p1
    assert "MapInPandas" in p1

    p2 = (
        topk_tokens_sketched(docs, k=2, capacity=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in p2 or "BroadcastExchange" in p2
    assert "CartesianProduct" not in p2


def test_cms_plan_shapes(spark):
    """CMS physical-plan pins: the build is PURE codegen (no Python
    stage anywhere — the md5 row hash is a column expression) with
    partial+final HashAggregate around one exchange whose key domain is
    the constant (row, col) cell space; the estimate join broadcasts
    the sketch side and never a CartesianProduct."""
    from kafka_streams_task_spark.operators.sketch import (
        cms_estimate,
        count_min_table,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    cms = count_min_table(docs, depth=3, width=64)
    p1 = cms._jdf.queryExecution().executedPlan().toString()
    for stage in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert stage not in p1, f"CMS build grew a Python stage: {stage}"
    assert "partial_count" in p1  # map-side collapse to <= depth x width

    probes = docs.selectExpr("explode(split(text, ' ')) AS token").distinct()
    p2 = (
        cms_estimate(cms, probes, depth=3, width=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in p2
    assert "CartesianProduct" not in p2
    for stage in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert stage not in p2, f"CMS lookup grew a Python stage: {stage}"


def test_cms_estimate_overcounts_and_is_tight_at_depth(spark):
    """CMS point estimates: est >= exact ALWAYS (each occurrence
    increments every row's cell), and at depth 4 / width 4096 over a
    small vocabulary the min over rows recovers the exact count for
    every token (an all-rows collision for one token has ~(v/w)^4
    probability — with v=400, w=4096 that's ~1e-8 per token against a
    FIXED hash function, deterministic here)."""
    from kafka_streams_task_spark.operators.sketch import (
        cms_estimate,
        count_min_table,
    )

    rng = random.Random(13)
    docs = _corpus(spark, rng, n_docs=150, vocab=400)
    cms = count_min_table(docs, depth=4, width=4096)
    probes = (
        docs.select(F.explode(F.split(F.trim("text"), r"[ \t\n\r\f]+")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    est = {r["token"]: r["est"] for r in cms_estimate(cms, probes).collect()}
    exact = {}
    for r in docs.collect():
        for t in r["text"].split():
            exact[t] = exact.get(t, 0) + 1
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert est[t] >= n, (t, est[t], n)
        assert est[t] == n, f"collision across all 4 rows for {t}"


def test_cms_collision_regime_still_overcounts(spark):
    """Tiny width forces collisions; the estimate stays an overcount and
    never an undercount."""
    from kafka_streams_task_spark.operators.sketch import (
        cms_estimate,
        count_min_table,
    )

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c d e f g h")], "doc_id long, text string"
    )
    cms = count_min_table(docs, depth=2, width=4)
    probes = (
        docs.select(F.explode(F.split(F.trim("text"), r"[ \t\n\r\f]+")).alias("token"))
        .distinct()
    )
    est = {r["token"]: r["est"] for r in cms_estimate(cms, probes, depth=2, width=4).collect()}
    exact = {"a": 2, "b": 2, "c": 1, "d": 1, "e": 1, "f": 1, "g": 1, "h": 1}
    assert all(est[t] >= n for t, n in exact.items()), est
    # pigeonhole: 8 tokens into 4 columns MUST share cells somewhere
    assert any(est[t] > n for t, n in exact.items()), est


def test_cms_merge_equals_union_sketch(spark):
    """Cell-wise merge identity: cms(A) + cms(B) == cms(A union B),
    cell for cell — the property that makes shard-parallel and
    streaming construction lossless."""
    from kafka_streams_task_spark.operators.sketch import (
        count_min_table,
        merge_cms_tables,
    )

    rng = random.Random(5)
    a = _corpus(spark, rng, n_docs=40, vocab=120)
    b = _corpus(spark, rng, n_docs=40, vocab=120)
    merged = {
        (r["row"], r["col"]): r["c"]
        for r in merge_cms_tables(
            count_min_table(a, depth=3, width=256),
            count_min_table(b, depth=3, width=256),
        ).collect()
    }
    union = {
        (r["row"], r["col"]): r["c"]
        for r in count_min_table(a.unionByName(b), depth=3, width=256).collect()
    }
    assert merged == union


def test_cms_validation(spark):
    from kafka_streams_task_spark.operators.sketch import count_min_table

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="depth/width"):
        count_min_table(docs, depth=0)


def test_streaming_cms_equals_batch_and_replay_noop(spark, tmpdir):
    """Streaming CMS: after two micro-batches the committed sketch is
    CELL-IDENTICAL to the batch sketch over both batches' data (the
    merge is exact, unlike the MG trim), estimates reflect cumulative
    counts, and replaying the input is a no-op."""
    import json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.sketch import count_min_table
    from kafka_streams_task_spark.streaming.sketch import (
        read_token_frequencies,
        streaming_token_frequencies,
    )

    b0 = [{"doc_id": 1, "text": "x x y"}]
    b1 = [{"doc_id": 2, "text": "x z z z"}]
    src = f"{tmpdir}/cms_in"
    os.makedirs(src)
    for i, rows in enumerate((b0, b1)):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    state = f"{tmpdir}/cms_state"

    def run(ck):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = streaming_token_frequencies(
            stream, state, ck, depth=3, width=64
        )
        q.awaitTermination(120)

    run(f"{tmpdir}/cms_ckpt")
    probes = spark.createDataFrame([("x",), ("y",), ("z",)], ["token"])
    est = {
        r["token"]: r["est"]
        for r in read_token_frequencies(spark, state, probes, depth=3, width=64).collect()
    }
    # cumulative counts across BOTH batches (width 64, 3 tokens: no collisions)
    assert est == {"x": 3, "y": 1, "z": 3}, est
    # cell-identical to the batch sketch over the union
    both = spark.createDataFrame(
        [(1, "x x y"), (2, "x z z z")], "doc_id long, text string"
    )
    batch = {
        (r["row"], r["col"]): r["c"]
        for r in count_min_table(both, depth=3, width=64).collect()
    }
    latest = {
        (r["row"], r["col"]): r["c"]
        for r in spark.read.parquet(f"{state}/cms_v1").collect()
    }
    assert latest == batch
    # replay no-op
    run(f"{tmpdir}/cms_ckpt")
    est2 = {
        r["token"]: r["est"]
        for r in read_token_frequencies(spark, state, probes, depth=3, width=64).collect()
    }
    assert est2 == est
    # r13 review hardening: build parameters persist with the state —
    # omitting them reads the durable values; disagreeing raises instead
    # of silently hashing into garbage cells
    est3 = {
        r["token"]: r["est"]
        for r in read_token_frequencies(spark, state, probes).collect()
    }
    assert est3 == est
    with pytest.raises(ValueError, match="built with depth"):
        read_token_frequencies(spark, state, probes, depth=3, width=128)


def test_cms_estimate_edge_contracts(spark):
    """Review-r13 pins: (a) probing with a LARGER depth than the build
    prunes never-built rows instead of reading 0 (the overcount contract
    survives a depth mismatch); (b) NULL probe tokens are dropped, never
    hashed into a fabricated estimate; (c) parameters validate."""
    from kafka_streams_task_spark.operators.sketch import (
        cms_estimate,
        count_min_table,
    )

    docs = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    cms = count_min_table(docs, depth=2, width=64)
    probes = spark.createDataFrame([("a",), ("b",), (None,)], ["token"])
    est = {
        r["token"]: r["est"]
        for r in cms_estimate(cms, probes, depth=8, width=64).collect()
    }
    assert est == {"a": 2, "b": 1}, est  # no NULL row, no zeroed undercount
    with pytest.raises(ValueError, match="depth/width"):
        cms_estimate(cms, probes, depth=0, width=64)


def test_cms_estimate_empty_sketch_reads_zero(spark):
    """Review-r13 ADVICE pin: an EMPTY sketch (zero-token corpus) reads
    est=0 for every probe — the documented untouched-cells-are-zero
    contract — instead of pruning all probe rows into an empty frame."""
    from kafka_streams_task_spark.operators.sketch import (
        cms_estimate,
        count_min_table,
    )

    docs = spark.createDataFrame([(1, "   ")], "doc_id long, text string")
    cms = count_min_table(docs, depth=2, width=64)
    assert cms.count() == 0
    probes = spark.createDataFrame([("a",), ("b",)], ["token"])
    est = {
        r["token"]: r["est"]
        for r in cms_estimate(cms, probes, depth=2, width=64).collect()
    }
    assert est == {"a": 0, "b": 0}, est


# ---------------------------------------------------------------------------
# DDSketch (r14): relative-error quantiles
# ---------------------------------------------------------------------------


def test_dd_quantiles_relative_error_guarantee(spark):
    """DDSketch's core theorem, exercised: for every q on a log-normal-ish
    corpus, |est - true order statistic| <= alpha * true, alpha =
    (gamma-1)/(gamma+1). Deterministic data (no RNG in the assertion
    path's favor): values span 4 orders of magnitude."""
    from kafka_streams_task_spark.operators.sketch import (
        dd_alpha,
        dd_quantiles,
        dd_sketch_table,
    )

    vals = [0.01 * (1.013 ** i) for i in range(1000)]  # 0.01 .. ~4e3
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    gamma = 1.02
    sk = dd_sketch_table(df, "v", gamma=gamma)
    qs = [0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    est = {r["q"]: r["est"] for r in dd_quantiles(sk, qs, gamma=gamma).collect()}
    svals = sorted(vals)
    alpha = dd_alpha(gamma)
    for q in qs:
        true = svals[int(q * (len(svals) - 1))]
        assert abs(est[q] - true) <= alpha * true + 1e-12, (q, est[q], true)


def test_dd_sketch_bounded_and_merge_equals_union(spark):
    """Bucket domain is bounded by the VALUE RANGE (not corpus size), and
    merging two shard sketches cell-equals the sketch of the union."""
    from kafka_streams_task_spark.operators.sketch import (
        dd_sketch_table,
        merge_dd_sketches,
    )

    a = spark.createDataFrame([(float(i),) for i in range(1, 2001)], "v double")
    b = spark.createDataFrame([(float(i),) for i in range(500, 3001)], "v double")
    ga = dd_sketch_table(a, "v", gamma=1.02)
    # values in [1, 2000]: bucket domain <= ceil(ln(2000)/ln(1.02)) + 1 ~ 385
    assert ga.count() <= 385
    merged = {
        (r["bucket"], r["c"])
        for r in merge_dd_sketches(ga, dd_sketch_table(b, "v", gamma=1.02)).collect()
    }
    union = {
        (r["bucket"], r["c"])
        for r in dd_sketch_table(a.unionByName(b), "v", gamma=1.02).collect()
    }
    assert merged == union


def test_dd_edge_contracts(spark):
    """NULL/NaN/zero/negative rows are excluded from the sketch (relative
    error is undefined at and across zero); empty sketch raises on a
    quantile ask; parameters validate."""
    from kafka_streams_task_spark.operators.sketch import (
        dd_quantiles,
        dd_sketch_table,
    )

    df = spark.createDataFrame(
        [(1.0,), (None,), (float("nan"),), (0.0,), (-5.0,), (2.0,)], "v double"
    )
    sk = dd_sketch_table(df, "v", gamma=1.02)
    assert sk.agg(F.sum("c")).collect()[0][0] == 2  # only 1.0 and 2.0
    with pytest.raises(ValueError, match="gamma"):
        dd_sketch_table(df, "v", gamma=1.0)
    with pytest.raises(ValueError, match="qs"):
        dd_quantiles(sk, [])
    with pytest.raises(ValueError, match="qs"):
        dd_quantiles(sk, [1.5])
    empty = dd_sketch_table(
        spark.createDataFrame([(0.0,)], "v double"), "v", gamma=1.02
    )
    with pytest.raises(ValueError, match="empty sketch"):
        dd_quantiles(empty, [0.5])


def test_dd_plan_shapes(spark):
    """The build is PURE codegen (bucket index is a column expression)
    with partial+final HashAggregate around one exchange whose key domain
    is the bounded bucket space; no Python stage anywhere."""
    from kafka_streams_task_spark.operators.sketch import dd_sketch_table

    df = spark.createDataFrame([(1.5,), (2.5,)], "v double")
    p = dd_sketch_table(df, "v")._jdf.queryExecution().executedPlan().toString()
    for stage in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert stage not in p, f"DDSketch build grew a Python stage: {stage}"
    assert "partial_count" in p


def test_streaming_dd_equals_batch_and_replay_noop(spark, tmpdir):
    """Streaming DDSketch: after two micro-batches the committed sketch is
    CELL-IDENTICAL to the batch sketch over both batches' data, quantiles
    reflect the cumulative stream, replay is a no-op, and the persisted
    gamma guards reads."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.sketch import dd_sketch_table
    from kafka_streams_task_spark.streaming.sketch import (
        read_value_quantiles,
        streaming_value_quantiles,
    )

    b0 = [{"id": 1, "value": 10.0}, {"id": 2, "value": 20.0}]
    b1 = [{"id": 3, "value": 30.0}, {"id": 4, "value": 40.0}, {"id": 5, "value": 50.0}]
    src = f"{tmpdir}/dd_in"
    os.makedirs(src)
    for i, rows in enumerate((b0, b1)):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    state = f"{tmpdir}/dd_state"

    def run(ck):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = streaming_value_quantiles(stream, state, ck, gamma=1.02)
        q.awaitTermination(120)

    run(f"{tmpdir}/dd_ckpt")
    est = {r["q"]: r["est"] for r in read_value_quantiles(spark, state, [0.0, 0.5, 1.0]).collect()}
    # median of {10,20,30,40,50} is 30; alpha ~ 0.0099
    assert abs(est[0.5] - 30.0) <= 0.0099 * 30.0 + 1e-9
    assert abs(est[0.0] - 10.0) <= 0.0099 * 10.0 + 1e-9
    assert abs(est[1.0] - 50.0) <= 0.0099 * 50.0 + 1e-9

    both = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, 50.0)],
        "id long, value double",
    )
    batch = {
        (r["bucket"], r["c"])
        for r in dd_sketch_table(both, "value", gamma=1.02).collect()
    }
    latest = {
        (r["bucket"], r["c"])
        for r in spark.read.parquet(f"{state}/dd_v1").collect()
    }
    assert latest == batch

    # replay no-op + durable-gamma guard
    run(f"{tmpdir}/dd_ckpt")
    est2 = {r["q"]: r["est"] for r in read_value_quantiles(spark, state, [0.5]).collect()}
    assert est2[0.5] == est[0.5]
    with pytest.raises(ValueError, match="built with gamma"):
        read_value_quantiles(spark, state, [0.5], gamma=1.05)


def test_dd_collapse_bounds_buckets_preserves_upper_quantiles(spark):
    """dd_collapse: count mass preserved exactly, bucket count bounded,
    and every quantile whose rank lands in the KEPT range retains the
    full alpha guarantee (the p95/p99 deployment story). The collapsed
    low tail reads as the boundary bucket — at most the boundary value."""
    from kafka_streams_task_spark.operators.sketch import (
        dd_alpha,
        dd_collapse,
        dd_quantiles,
        dd_sketch_table,
    )

    vals = [0.001 * (1.5 ** i) for i in range(40)]  # 0.001 .. ~4e8
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    gamma = 1.05
    sk = dd_sketch_table(df, "v", gamma=gamma)
    full = sk.count()
    assert full > 20
    small = dd_collapse(sk, 10)
    assert small.count() <= 10
    assert (
        small.agg(F.sum("c")).collect()[0][0]
        == sk.agg(F.sum("c")).collect()[0][0]
    )
    # upper quantiles: rank in the kept range -> full guarantee holds
    svals = sorted(vals)
    alpha = dd_alpha(gamma)
    est = {
        r["q"]: r["est"]
        for r in dd_quantiles(small, [0.9, 0.99, 1.0], gamma=gamma).collect()
    }
    for q in (0.9, 0.99, 1.0):
        true = svals[int(q * (len(svals) - 1))]
        assert abs(est[q] - true) <= alpha * true + 1e-12, (q, est[q], true)
    # collapsed tail: estimate is the boundary bucket's midpoint — an
    # upper-side read, never BELOW the guarantee band of the boundary
    low = dd_quantiles(small, [0.0], gamma=gamma).collect()[0]["est"]
    assert low >= svals[0]
    with pytest.raises(ValueError, match="max_buckets"):
        dd_collapse(sk, 0)


def test_streaming_dd_restart_merges_new_batch(spark, tmpdir):
    """Stop after batch 0, restart on the SAME checkpoint with a new file
    present: the twin resumes from committed state and the final sketch
    equals the batch build over everything (the mixing twin's restart
    contract, applied to DDSketch)."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.sketch import dd_sketch_table
    from kafka_streams_task_spark.streaming.sketch import (
        streaming_value_quantiles,
    )

    src = f"{tmpdir}/dd_in"
    state = f"{tmpdir}/dd_state"
    ck = f"{tmpdir}/dd_ckpt"
    os.makedirs(src)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("value", T.DoubleType())]
    )

    def run():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = streaming_value_quantiles(stream, state, ck, gamma=1.02)
        q.awaitTermination(120)

    with open(f"{src}/b0.json", "w") as f:
        f.write("\n".join(_json.dumps({"id": i, "value": 10.0 * i}) for i in (1, 2)))
    os.utime(f"{src}/b0.json", (1000000000,) * 2)
    run()
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(_json.dumps({"id": i, "value": 10.0 * i}) for i in (3, 4, 5)))
    os.utime(f"{src}/b1.json", (1000000100,) * 2)
    run()

    both = spark.createDataFrame(
        [(i, 10.0 * i) for i in range(1, 6)], "id long, value double"
    )
    batch = {
        (r["bucket"], r["c"])
        for r in dd_sketch_table(both, "value", gamma=1.02).collect()
    }
    latest = {
        (r["bucket"], r["c"])
        for r in spark.read.parquet(f"{state}/dd_v1").collect()
    }
    assert latest == batch


# ---------------------------------------------------------------------------
# HyperLogLog (r14): mergeable distinct counting
# ---------------------------------------------------------------------------


def test_hll_estimate_accuracy_both_regimes(spark):
    """HLL estimate within 3 standard errors (1.04/sqrt(m)) of the true
    distinct count in BOTH regimes: linear counting (n << m) and the raw
    estimator (n >> m). Deterministic under the fixed md5 hash."""
    from kafka_streams_task_spark.operators.sketch import (
        hll_cardinality,
        hll_register_table,
    )

    b, m = 10, 1024
    se = 1.04 / (m ** 0.5)
    # linear-counting regime: 300 distinct values, duplicated 3x
    small = spark.createDataFrame(
        [(f"v{i % 300}",) for i in range(900)], "x string"
    )
    est = hll_cardinality(hll_register_table(small, "x", b=b), b=b).collect()[0]
    assert abs(est["est"] - 300) <= 3 * se * 300, est
    # raw regime: 20000 distinct values
    big = spark.range(20000).select(F.concat(F.lit("k"), F.col("id")).alias("x"))
    est2 = hll_cardinality(hll_register_table(big, "x", b=b), b=b).collect()[0]
    assert abs(est2["est"] - 20000) <= 3 * se * 20000, est2
    # duplicates are invisible by construction
    est3 = hll_cardinality(
        hll_register_table(big.unionByName(big), "x", b=b), b=b
    ).collect()[0]
    assert est3["est"] == est2["est"]


def test_hll_merge_exact_and_idempotent(spark):
    """merge == table of the union, and merging a table with ITSELF is a
    no-op (max idempotency — the property that makes redelivery free)."""
    from kafka_streams_task_spark.operators.sketch import (
        hll_register_table,
        merge_hll_tables,
    )

    a = spark.range(500).select(F.concat(F.lit("a"), F.col("id")).alias("x"))
    c = spark.range(300, 900).select(F.concat(F.lit("a"), F.col("id")).alias("x"))
    ta = hll_register_table(a, "x")
    tc = hll_register_table(c, "x")
    merged = {(r["reg"], r["rho"]) for r in merge_hll_tables(ta, tc).collect()}
    union = {
        (r["reg"], r["rho"])
        for r in hll_register_table(a.unionByName(c), "x").collect()
    }
    assert merged == union
    self_merged = {(r["reg"], r["rho"]) for r in merge_hll_tables(ta, ta).collect()}
    assert self_merged == {(r["reg"], r["rho"]) for r in ta.collect()}


def test_hll_registers_match_duckdb_rederivation(spark):
    """Cross-engine pin: DuckDB re-derives the ENTIRE register table from
    its own md5/bin arithmetic — the integer-exact portability claim the
    driver oracle relies on."""
    import duckdb

    from kafka_streams_task_spark.operators.sketch import hll_register_table

    vals = [f"tok{i}" for i in range(777)]
    df = spark.createDataFrame([(v,) for v in vals], "x string")
    got = {(r["reg"], r["rho"]) for r in hll_register_table(df, "x", b=8).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = {
        (int(r[0]), int(r[1]))
        for r in con.execute(
            """
            WITH h AS (
              SELECT CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) AS h
              FROM t WHERE x IS NOT NULL
            ),
            rr AS (
              SELECT CAST(h % 256 AS INT) AS reg,
                     CASE WHEN (h >> 8) = 0 THEN 53
                          ELSE 53 - length(bin(h >> 8)) END AS rho
              FROM h
            )
            SELECT reg, max(rho) FROM rr GROUP BY reg
            """
        ).fetchall()
    }
    assert got == want


def test_hll_plan_shapes_and_validation(spark):
    """Build is pure codegen (no Python stage), partial+final aggregate
    over the bounded register domain; parameters validate; NULLs drop."""
    from kafka_streams_task_spark.operators.sketch import (
        hll_cardinality,
        hll_register_table,
    )
    import pytest as _pytest

    df = spark.createDataFrame([("a",), (None,), ("b",)], "x string")
    t = hll_register_table(df, "x")
    p = t._jdf.queryExecution().executedPlan().toString()
    for stage in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert stage not in p, f"HLL build grew a Python stage: {stage}"
    assert "partial_max" in p
    # two non-null values -> at most two registers
    assert t.count() <= 2
    with _pytest.raises(ValueError, match="b must be"):
        hll_register_table(df, "x", b=2)
    with _pytest.raises(ValueError, match="b must be"):
        hll_cardinality(t, b=20)


def test_streaming_hll_equals_batch_and_replay_noop(spark, tmpdir):
    """Streaming HLL: committed registers bit-identical to the batch
    table over both micro-batches, the estimate reflects the cumulative
    distinct count, replay is a no-op, and the persisted b guards reads."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.sketch import hll_register_table
    from kafka_streams_task_spark.streaming.sketch import (
        read_distinct_count,
        streaming_distinct_values,
    )

    b0 = [{"id": i, "value": f"u{i}"} for i in range(40)]
    b1 = [{"id": i, "value": f"u{i}"} for i in range(20, 70)]  # 30 overlap
    src = f"{tmpdir}/hll_in"
    os.makedirs(src)
    for i, rows in enumerate((b0, b1)):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("value", T.StringType())]
    )
    state = f"{tmpdir}/hll_state"

    def run(ck):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = streaming_distinct_values(stream, state, ck, b=10)
        q.awaitTermination(120)

    run(f"{tmpdir}/hll_ckpt")
    est = read_distinct_count(spark, state).collect()[0]
    # 70 true distincts; linear-counting regime at m=1024 is very tight
    assert abs(est["est"] - 70) <= 5, est

    both = spark.createDataFrame(
        [(i, f"u{i}") for i in range(70)], "id long, value string"
    )
    batch = {
        (r["reg"], r["rho"])
        for r in hll_register_table(both, "value", b=10).collect()
    }
    latest = {
        (r["reg"], r["rho"])
        for r in spark.read.parquet(f"{state}/hll_v1").collect()
    }
    assert latest == batch

    run(f"{tmpdir}/hll_ckpt")  # replay no-op
    assert read_distinct_count(spark, state).collect()[0]["est"] == est["est"]
    with pytest.raises(ValueError, match="built with b"):
        read_distinct_count(spark, state, b=12)


def test_meta_success_gate_self_heals_half_written_dir(spark, tmpdir):
    """Advice-r14 pin: the parameter metas are probed by their _SUCCESS
    marker, not bare directory existence — a crash mid-first-write
    leaves a meta dir with no marker, and the next contact REWRITES it
    (self-heal) instead of failing every later read with an opaque
    parquet schema-inference error. Once committed, mismatched callers
    are still refused."""
    import os

    from kafka_streams_task_spark.streaming.sketch import _CMS, _DD, _HLL
    from kafka_streams_task_spark.streaming.state import check_meta

    for name, heal, reject in (
        (
            "cms_meta",
            lambda s: check_meta(spark, s, _CMS, {"depth": 3, "width": 64}),
            lambda s: check_meta(spark, s, _CMS, {"depth": 3, "width": 128}),
        ),
        (
            "dd_meta",
            lambda s: check_meta(spark, s, _DD, {"gamma": 1.02}),
            lambda s: check_meta(spark, s, _DD, {"gamma": 1.05}),
        ),
        (
            "hll_meta",
            lambda s: check_meta(spark, s, _HLL, {"b": 10}),
            lambda s: check_meta(spark, s, _HLL, {"b": 12}),
        ),
    ):
        state = f"{tmpdir}/heal_{name}"
        os.makedirs(f"{state}/{name}")
        with open(f"{state}/{name}/part-half-written.parquet", "w") as f:
            f.write("not parquet")  # crash artifact: dir exists, no _SUCCESS
        heal(state)  # must rewrite, not raise
        assert os.path.exists(f"{state}/{name}/_SUCCESS")
        heal(state)  # committed now: same params validate cleanly
        with pytest.raises(ValueError, match="built with"):
            reject(state)


def test_reads_refuse_committed_state_without_meta(spark, tmpdir):
    """Advice-r14 pin: when committed versions exist WITHOUT their meta
    (partial state-dir cleanup), reads raise instead of trusting a
    caller-supplied parameter against durable state of unknown
    provenance — the silent-garbage mode the meta discipline closes."""
    from kafka_streams_task_spark.operators.sketch import (
        count_min_table,
        dd_sketch_table,
        hll_register_table,
    )
    from kafka_streams_task_spark.streaming.sketch import (
        read_distinct_count,
        read_token_frequencies,
        read_value_quantiles,
    )

    docs = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    vals = spark.createDataFrame([(float(i),) for i in range(1, 20)], "value double")
    probes = spark.createDataFrame([("a",)], ["token"])

    s = f"{tmpdir}/orphan_cms"
    count_min_table(docs, depth=3, width=64).write.parquet(f"{s}/cms_v0")
    with pytest.raises(ValueError, match="committed sketches exist"):
        read_token_frequencies(spark, s, probes, depth=3, width=64)

    s = f"{tmpdir}/orphan_dd"
    dd_sketch_table(vals, "value", gamma=1.02).write.parquet(f"{s}/dd_v0")
    with pytest.raises(ValueError, match="committed sketches exist"):
        read_value_quantiles(spark, s, [0.5], gamma=1.02)

    s = f"{tmpdir}/orphan_hll"
    hll_register_table(docs, "text", b=10).write.parquet(f"{s}/hll_v0")
    with pytest.raises(ValueError, match="committed registers exist"):
        read_distinct_count(spark, s, b=10)

    # nothing committed at all still reads as the no-state error, so the
    # fresh-dir contract is unchanged
    with pytest.raises(ValueError, match="no committed sketch"):
        read_value_quantiles(spark, f"{tmpdir}/nowhere", [0.5], gamma=1.02)


def test_hll_grouped_matches_per_group_global_builds(spark):
    """The grouped register table is EXACTLY the per-group stack of
    global builds (same hash/register/rho arithmetic), the grouped
    estimator is the global closed form applied group-wise, a NULL
    group is its own group, and the grouped merge is idempotent."""
    from kafka_streams_task_spark.operators.sketch import (
        hll_cardinality,
        hll_register_table,
        merge_hll_tables,
    )

    rows = [(f"u{i % 37}", ["a", "b", None][i % 3]) for i in range(200)]
    df = spark.createDataFrame(rows, "user string, grp_in string")
    grouped = hll_register_table(df, "user", b=10, group_col="grp_in")
    got = {
        (r["grp"], r["reg"], r["rho"]) for r in grouped.collect()
    }
    want = set()
    for g in ("a", "b", None):
        sub = df.filter(
            F.col("grp_in").eqNullSafe(F.lit(g) if g is not None else F.lit(None))
        )
        for r in hll_register_table(sub, "user", b=10).collect():
            want.add((g, r["reg"], r["rho"]))
    assert got == want

    est = {
        r["grp"]: (r["n_registers"], r["est"])
        for r in hll_cardinality(grouped, b=10).collect()
    }
    for g in ("a", "b", None):
        sub = df.filter(
            F.col("grp_in").eqNullSafe(F.lit(g) if g is not None else F.lit(None))
        )
        glob = hll_cardinality(
            hll_register_table(sub, "user", b=10), b=10
        ).collect()[0]
        assert est[g] == (glob["n_registers"], glob["est"]), g

    # idempotent per-group merge: self-merge is a no-op
    merged = {
        (r["grp"], r["reg"], r["rho"])
        for r in merge_hll_tables(grouped, grouped).collect()
    }
    assert merged == got

    import pytest as _pytest

    with _pytest.raises(ValueError, match="b must be"):
        hll_register_table(df, "user", b=3, group_col="grp_in")
    with _pytest.raises(ValueError, match="b must be"):
        hll_cardinality(grouped, b=20)


def test_streaming_hll_grouped_equals_batch_and_guards(spark, tmpdir):
    """Grouped streaming twin (VERDICT r14 item 2): after two
    micro-batches the committed grouped register table is bit-identical
    to the batch grouped build over everything ingested; replay is a
    no-op; group_col persists in hll_meta and disagreeing callers
    (different group, or global-vs-grouped) are refused; the read
    returns the per-group shape automatically."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.sketch import (
        hll_register_table,
    )
    from kafka_streams_task_spark.streaming.sketch import (
        read_distinct_count,
        streaming_distinct_values,
    )

    b0 = [{"id": i, "value": f"u{i}", "seg": ["x", "y"][i % 2]} for i in range(40)]
    b1 = [{"id": i, "value": f"u{i}", "seg": ["x", "y"][i % 2]} for i in range(20, 70)]
    src = f"{tmpdir}/ghll_in"
    os.makedirs(src)
    for i, rows in enumerate((b0, b1)):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("value", T.StringType()),
            T.StructField("seg", T.StringType()),
        ]
    )
    state = f"{tmpdir}/ghll_state"

    def run(ck, **kw):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = streaming_distinct_values(stream, state, ck, b=10, **kw)
        q.awaitTermination(120)

    run(f"{tmpdir}/ghll_ckpt", group_col="seg")
    est = {
        r["grp"]: r["est"] for r in read_distinct_count(spark, state).collect()
    }
    # 35 true distincts per segment; linear counting at m=1024 is tight
    assert set(est) == {"x", "y"}
    for g in ("x", "y"):
        assert abs(est[g] - 35) <= 4, (g, est[g])

    both = spark.createDataFrame(
        [(i, f"u{i}", ["x", "y"][i % 2]) for i in range(70)],
        "id long, value string, seg string",
    )
    batch = {
        (r["grp"], r["reg"], r["rho"])
        for r in hll_register_table(both, "value", b=10, group_col="seg").collect()
    }
    latest = {
        (r["grp"], r["reg"], r["rho"])
        for r in spark.read.parquet(f"{state}/hll_v1").collect()
    }
    assert latest == batch

    run(f"{tmpdir}/ghll_ckpt", group_col="seg")  # replay no-op
    assert {
        r["grp"]: r["est"] for r in read_distinct_count(spark, state).collect()
    } == est

    # grouped state refuses a global caller, a different group, and a
    # disagreeing b — the sketches are not interchangeable
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    with pytest.raises(ValueError, match="built with b"):
        streaming_distinct_values(stream, state, f"{tmpdir}/ghll_ckpt", b=10)
    with pytest.raises(ValueError, match="built with b"):
        streaming_distinct_values(
            stream, state, f"{tmpdir}/ghll_ckpt", b=10, group_col="value"
        )
    with pytest.raises(ValueError, match="built with b"):
        read_distinct_count(spark, state, b=12)


def test_streaming_dd_collapse_equals_collapsed_batch(spark, tmpdir):
    """Streaming DDSketch bucket bound (VERDICT r14 item 5): with
    ``max_buckets`` the committed state after each batch is
    bit-identical to dd_collapse(batch sketch over everything,
    max_buckets) — collapse AFTER merge each batch composes exactly,
    because the cut is non-decreasing as data arrives. State stays at
    most max_buckets rows, replay is a no-op, upper quantiles keep the
    alpha guarantee, and max_buckets persists in dd_meta: disagreeing
    callers are refused."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.sketch import (
        dd_alpha,
        dd_collapse,
        dd_sketch_table,
    )
    from kafka_streams_task_spark.streaming.sketch import (
        read_value_quantiles,
        streaming_value_quantiles,
    )

    # values spanning ~6 orders of magnitude so gamma=1.02 would need
    # ~700 buckets unbounded — the collapse genuinely folds
    vals0 = [0.001 * (1.9**i) for i in range(20)]
    vals1 = [0.005 * (2.1**i) for i in range(18)]
    b0 = [{"id": i, "value": v} for i, v in enumerate(vals0)]
    b1 = [{"id": 100 + i, "value": v} for i, v in enumerate(vals1)]
    src = f"{tmpdir}/ddc_in"
    os.makedirs(src)
    for i, rows in enumerate((b0, b1)):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    state = f"{tmpdir}/ddc_state"

    def run(ck, **kw):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = streaming_value_quantiles(stream, state, ck, gamma=1.02, **kw)
        q.awaitTermination(120)

    run(f"{tmpdir}/ddc_ckpt", max_buckets=12)

    both = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals0 + vals1)], "id long, value double"
    )
    want = {
        (r["bucket"], r["c"])
        for r in dd_collapse(dd_sketch_table(both, "value", 1.02), 12).collect()
    }
    got = {
        (r["bucket"], r["c"])
        for r in spark.read.parquet(f"{state}/dd_v1").collect()
    }
    assert got == want
    assert len(got) <= 12

    # upper quantiles keep the relative-error guarantee against the
    # TRUE order statistics (collapse only touched the low mass)
    alpha = dd_alpha(1.02)
    data = sorted(vals0 + vals1)
    est = {
        r["q"]: r["est"]
        for r in read_value_quantiles(spark, state, [0.9, 0.95, 1.0]).collect()
    }
    for q_, e in est.items():
        true = data[int(q_ * (len(data) - 1))]
        assert abs(e - true) <= alpha * true * 1.000001, (q_, e, true)

    # replay no-op
    run(f"{tmpdir}/ddc_ckpt", max_buckets=12)
    assert {
        (r["bucket"], r["c"])
        for r in spark.read.parquet(f"{state}/dd_v1").collect()
    } == want

    # the collapse budget is part of the sketch's identity
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    with pytest.raises(ValueError, match="max_buckets"):
        streaming_value_quantiles(
            stream, state, f"{tmpdir}/ddc_ckpt", gamma=1.02, max_buckets=20
        )
    with pytest.raises(ValueError, match="max_buckets"):
        streaming_value_quantiles(
            stream, state, f"{tmpdir}/ddc_ckpt2", gamma=1.02, max_buckets=0
        )


def test_dd_grouped_matches_per_group_global_builds(spark):
    """The grouped DDSketch table is EXACTLY the per-group stack of
    global builds, the grouped rank walk returns each group's global
    quantile estimates (with the per-group alpha guarantee), a NULL
    group is its own group, a group with no positive values is absent,
    and the grouped merge is the concatenated-input table."""
    from kafka_streams_task_spark.operators.sketch import (
        dd_alpha,
        dd_quantiles,
        dd_sketch_table,
        merge_dd_sketches,
    )

    rows = [
        (float(i % 17 + 1) * (1.5 ** (i % 9)), ["a", "b", None, "zero"][i % 4])
        for i in range(240)
    ]
    # the 'zero' group carries only non-positive values -> absent
    rows = [(v if g != "zero" else -v, g) for v, g in rows]
    df = spark.createDataFrame(rows, "value double, grp_in string")

    grouped = dd_sketch_table(df, "value", gamma=1.05, group_col="grp_in")
    got = {(r["grp"], r["bucket"], r["c"]) for r in grouped.collect()}
    want = set()
    for g in ("a", "b", None):
        sub = df.filter(
            F.col("grp_in").eqNullSafe(F.lit(g) if g is not None else F.lit(None))
        )
        for r in dd_sketch_table(sub, "value", gamma=1.05).collect():
            want.add((g, r["bucket"], r["c"]))
    assert got == want
    assert not any(g == "zero" for g, _, _ in got)

    qs = [0.0, 0.5, 0.9, 1.0]
    g_est = {
        (r["grp"], r["q"]): r["est"]
        for r in dd_quantiles(grouped, qs, gamma=1.05).collect()
    }
    alpha = dd_alpha(1.05)
    for g in ("a", "b", None):
        sub = df.filter(
            F.col("grp_in").eqNullSafe(F.lit(g) if g is not None else F.lit(None))
        )
        glob = {
            r["q"]: r["est"]
            for r in dd_quantiles(
                dd_sketch_table(sub, "value", gamma=1.05), qs, gamma=1.05
            ).collect()
        }
        data = sorted(
            r["value"] for r in sub.filter(F.col("value") > 0).collect()
        )
        for q_ in qs:
            assert g_est[(g, q_)] == glob[q_], (g, q_)
            true = data[int(q_ * (len(data) - 1))]
            assert abs(g_est[(g, q_)] - true) <= alpha * true * 1.000001
    assert not any(g == "zero" for g, _ in g_est)

    merged = {
        (r["grp"], r["bucket"], r["c"])
        for r in merge_dd_sketches(grouped, grouped).collect()
    }
    assert merged == {(g, b, 2 * c) for g, b, c in got}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="gamma"):
        dd_sketch_table(df, "value", gamma=1.0, group_col="grp_in")
    with _pytest.raises(ValueError, match="qs"):
        dd_quantiles(grouped, [], gamma=1.05)
    with _pytest.raises(ValueError, match="qs"):
        dd_quantiles(grouped, [1.5], gamma=1.05)


def test_dd_collapse_keyed_matches_per_group_global(spark):
    """Grouped collapse == the per-group stack of global collapses: each
    group keeps its own top max_buckets indices and folds independently;
    counts are preserved exactly per group."""
    from kafka_streams_task_spark.operators.sketch import (
        dd_collapse,
        dd_sketch_table,
    )

    rows = [
        (0.002 * (2.0 ** (i % 14)), ["p", "q", None][i % 3])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "value double, grp_in string")
    grouped = dd_sketch_table(df, "value", gamma=1.02, group_col="grp_in")
    got = {
        (r["grp"], r["bucket"], r["c"])
        for r in dd_collapse(grouped, 5).collect()
    }
    want = set()
    for g in ("p", "q", None):
        sub = df.filter(
            F.col("grp_in").eqNullSafe(F.lit(g) if g is not None else F.lit(None))
        )
        glob = dd_collapse(dd_sketch_table(sub, "value", gamma=1.02), 5)
        for r in glob.collect():
            want.add((g, r["bucket"], r["c"]))
    assert got == want
    # per-group row bound and exact count preservation
    from collections import Counter

    per_group = Counter(g for g, _, _ in got)
    assert all(n <= 5 for n in per_group.values())
    assert sum(c for _, _, c in got) == 120

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_buckets"):
        dd_collapse(grouped, 0)


def test_streaming_dd_grouped_equals_batch_and_guards(spark, tmpdir):
    """Grouped streaming quantile twin (r15): per-group cumulative
    sketches with a per-group collapse budget — the committed state is
    bit-identical to dd_collapse(batch grouped build over
    everything), reads return the per-group shape automatically, and
    group_col rides dd_meta: global-vs-grouped callers are refused."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.sketch import (
        dd_collapse,
        dd_quantiles,
        dd_sketch_table,
    )
    from kafka_streams_task_spark.streaming.sketch import (
        read_value_quantiles,
        streaming_value_quantiles,
    )

    vals = [(i, 0.01 * (1.8 ** (i % 16)), ["api", "web"][i % 2]) for i in range(60)]
    b0, b1 = vals[:30], vals[30:]
    src = f"{tmpdir}/gdd_in"
    os.makedirs(src)
    for i, rows in enumerate((b0, b1)):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write(
                "\n".join(
                    _json.dumps({"id": a, "value": v, "ep": g}) for a, v, g in rows
                )
            )
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ep", T.StringType()),
        ]
    )
    state = f"{tmpdir}/gdd_state"

    def run(ck, **kw):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = streaming_value_quantiles(stream, state, ck, gamma=1.02, **kw)
        q.awaitTermination(120)

    run(f"{tmpdir}/gdd_ckpt", group_col="ep", max_buckets=10)

    both = spark.createDataFrame(
        [(a, v, g) for a, v, g in vals], "id long, value double, ep string"
    )
    gsk = dd_sketch_table(both, "value", gamma=1.02, group_col="ep")
    want = {
        (r["grp"], r["bucket"], r["c"])
        for r in dd_collapse(gsk, 10).collect()
    }
    got = {
        (r["grp"], r["bucket"], r["c"])
        for r in spark.read.parquet(f"{state}/dd_v1").collect()
    }
    assert got == want

    # the read returns (grp, q, est) — each group's own p50/p99 walk over
    # the collapsed state
    est = {
        (r["grp"], r["q"]): r["est"]
        for r in read_value_quantiles(spark, state, [0.5, 0.99]).collect()
    }
    want_est = {
        (r["grp"], r["q"]): r["est"]
        for r in dd_quantiles(
            dd_collapse(gsk, 10), [0.5, 0.99], gamma=1.02
        ).collect()
    }
    assert est == want_est
    assert {g for g, _ in est} == {"api", "web"}

    # replay no-op
    run(f"{tmpdir}/gdd_ckpt", group_col="ep", max_buckets=10)
    assert {
        (r["grp"], r["bucket"], r["c"])
        for r in spark.read.parquet(f"{state}/dd_v1").collect()
    } == want

    # grouped state refuses a global caller and a different group column
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    with pytest.raises(ValueError, match="group_col"):
        streaming_value_quantiles(
            stream, state, f"{tmpdir}/gdd_ckpt", gamma=1.02, max_buckets=10
        )
    with pytest.raises(ValueError, match="group_col"):
        streaming_value_quantiles(
            stream, state, f"{tmpdir}/gdd_ckpt", gamma=1.02,
            max_buckets=10, group_col="value",
        )


def test_pre_r15_meta_schemas_still_read(spark, tmpdir):
    """Review-r15 pin: metas written BEFORE the optional columns existed
    (dd_meta without max_buckets/group_col, hll_meta without group_col)
    must keep working after an upgrade — absent optional fields read as
    None (the old behavior), not raise — or every pre-existing durable
    state dir dies on first contact."""
    from kafka_streams_task_spark.operators.sketch import (
        dd_sketch_table,
        hll_register_table,
    )
    from kafka_streams_task_spark.streaming.sketch import (
        _DD,
        _HLL,
        read_distinct_count,
        read_value_quantiles,
    )
    from kafka_streams_task_spark.streaming.state import check_meta

    vals = spark.createDataFrame([(float(i),) for i in range(1, 30)], "value double")

    s = f"{tmpdir}/old_dd"
    spark.createDataFrame([(1.02,)], "gamma double").coalesce(1).write.parquet(
        f"{s}/dd_meta"
    )
    dd_sketch_table(vals, "value", gamma=1.02).write.parquet(f"{s}/dd_v0")
    est = {r["q"]: r["est"] for r in read_value_quantiles(spark, s, [0.5]).collect()}
    assert 0.5 in est  # global shape, no raise
    check_meta(spark, s, _DD, {"gamma": 1.02})  # same params validate
    with pytest.raises(ValueError, match="max_buckets"):
        check_meta(spark, s, _DD, {"gamma": 1.02, "max_buckets": 9})

    s = f"{tmpdir}/old_hll"
    spark.createDataFrame([(10,)], "b int").coalesce(1).write.parquet(
        f"{s}/hll_meta"
    )
    hll_register_table(vals, "value", b=10).write.parquet(f"{s}/hll_v0")
    row = read_distinct_count(spark, s).collect()[0]
    assert row["n_registers"] > 0  # global shape, no raise
    check_meta(spark, s, _HLL, {"b": 10})
    with pytest.raises(ValueError, match="group_col"):
        check_meta(spark, s, _HLL, {"b": 10, "group_col": "seg"})


def test_grouped_streaming_state_cap_bounds_or_refuses(spark, tmpdir):
    """R16 (VERDICT r15 item 7): grouped sketch state grows as
    |groups| x registers/buckets, so an unbounded group domain grows
    state without limit. With ``max_groups`` set, an over-cap batch is
    REFUSED loudly before any version is written — the last committed
    state stays intact and readable — instead of growing silently; the
    cap persists in the meta and disagreeing reattaches are refused;
    the knob requires group_col; under-cap streams behave exactly as
    before."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.streaming.sketch import (
        read_distinct_count,
        read_value_quantiles,
        streaming_distinct_values,
        streaming_value_quantiles,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("seg", T.StringType()),
        ]
    )
    # batch 0: two groups (under cap); batch 1: a third group (over cap)
    b0 = [{"id": i, "value": float(i % 7 + 1), "seg": ["x", "y"][i % 2]} for i in range(30)]
    b1 = [{"id": i, "value": 3.0, "seg": "z"} for i in range(10)]
    src = f"{tmpdir}/cap_in"
    os.makedirs(src)
    for i, rows in enumerate((b0, b1)):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)

    def stream():
        return (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )

    # --- the knob requires group_col (both twins) ---
    with pytest.raises(ValueError, match="requires group_col"):
        streaming_value_quantiles(
            stream(), f"{tmpdir}/g1", f"{tmpdir}/c1", max_groups=4
        )
    with pytest.raises(ValueError, match="requires group_col"):
        streaming_distinct_values(
            stream(), f"{tmpdir}/g2", f"{tmpdir}/c2", max_groups=4
        )
    with pytest.raises(ValueError, match="max_groups"):
        streaming_value_quantiles(
            stream(), f"{tmpdir}/g3", f"{tmpdir}/c3",
            group_col="seg", max_groups=0,
        )

    # --- DDSketch twin: batch 0 commits under the cap, batch 1's third
    # group fails the QUERY (not silently), committed state intact ---
    dd_state, dd_ck = f"{tmpdir}/dd_state", f"{tmpdir}/dd_ck"
    q = streaming_value_quantiles(
        stream(), dd_state, dd_ck, group_col="seg", max_groups=2
    )
    with pytest.raises(Exception, match="max_groups=2"):
        q.awaitTermination(120)
        raise AssertionError("over-cap batch must fail the stream")
    # v0 (x, y) committed; the z batch wrote NO version
    assert os.path.exists(f"{dd_state}/dd_v0/_SUCCESS")
    assert not os.path.exists(f"{dd_state}/dd_v1")
    est = {
        (r["grp"], r["q"]): r["est"]
        for r in read_value_quantiles(spark, dd_state, [0.5]).collect()
    }
    assert set(g for g, _ in est) == {"x", "y"}  # state readable, z absent

    # reattach with a different cap: refused (persisted like any param)
    with pytest.raises(ValueError, match="max_groups"):
        streaming_value_quantiles(
            stream(), dd_state, dd_ck, group_col="seg", max_groups=9
        )

    # --- HLL twin: same contract ---
    h_state, h_ck = f"{tmpdir}/h_state", f"{tmpdir}/h_ck"
    q = streaming_distinct_values(
        stream(), h_state, h_ck, value_col="id", b=10,
        group_col="seg", max_groups=2,
    )
    with pytest.raises(Exception, match="max_groups=2"):
        q.awaitTermination(120)
        raise AssertionError("over-cap batch must fail the stream")
    assert os.path.exists(f"{h_state}/hll_v0/_SUCCESS")
    assert not os.path.exists(f"{h_state}/hll_v1")
    est = {r["grp"]: r["est"] for r in read_distinct_count(spark, h_state).collect()}
    assert set(est) == {"x", "y"}
    with pytest.raises(ValueError, match="max_groups"):
        streaming_distinct_values(
            stream(), h_state, h_ck, value_col="id", b=10, group_col="seg"
        )


def test_theta_sketch_build_exact_and_partition_invariant(spark):
    """The KMV sketch is EXACTLY the k smallest distinct 60-bit md5
    hashes — re-derived here driver-side from hashlib — and identical
    under any partitioning (the bounded per-partition fold loses
    nothing). Unsaturated sketches hold EVERY distinct hash, so the
    estimator returns the true count exactly."""
    import hashlib

    from kafka_streams_task_spark.operators.sketch import (
        theta_distinct,
        theta_sketch_table,
    )

    vals = [f"v{i % 37}" for i in range(200)] + [None]
    df = spark.createDataFrame([(v,) for v in vals], "x string")

    def py_hash(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = sorted({py_hash(f"v{i}") for i in range(37)})
    got = [r["h"] for r in theta_sketch_table(df, "x", k=16).orderBy("h").collect()]
    assert got == want[:16]
    # partition invariance: 1 vs 13 partitions, same sketch
    got13 = [
        r["h"]
        for r in theta_sketch_table(df.repartition(13), "x", k=16)
        .orderBy("h")
        .collect()
    ]
    assert got13 == got
    # unsaturated -> every hash kept, estimate EXACT
    full = theta_sketch_table(df, "x", k=100)
    assert [r["h"] for r in full.orderBy("h").collect()] == want
    row = theta_distinct(full, k=100).collect()[0]
    assert (row["n_kept"], row["est"]) == (37, 37.0)
    with pytest.raises(ValueError, match="k must be"):
        theta_sketch_table(df, "x", k=1)


def test_theta_union_equals_sketch_of_union_and_set_ops(spark):
    """The composition theorem pinned directly: union of two sketches ==
    the sketch of the concatenated corpora (what the driver suite's
    'sku' leg hash-checks against DuckDB); set-op estimates are EXACT
    when unsaturated, and within 3 sigma of truth when saturated on a
    planted overlap."""
    from kafka_streams_task_spark.operators.sketch import (
        theta_a_not_b,
        theta_intersect,
        theta_sketch_table,
        theta_union,
    )

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)] + [(f"c{i}",) for i in range(200)], "x string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(400)] + [(f"c{i}",) for i in range(200)], "x string")
    k = 128
    sa, sb = theta_sketch_table(a, "x", k=k), theta_sketch_table(b, "x", k=k)
    direct = theta_sketch_table(a.unionByName(b), "x", k=k)
    assert {r["h"] for r in theta_union(sa, sb, k=k).collect()} == {
        r["h"] for r in direct.collect()
    }
    # saturated estimates: |A∩B| = 200, |A\B| = 300, |A∪B| = 900
    sig = 3.0 * 900 / (k - 2) ** 0.5  # 3 sigma of the union size
    got_i = theta_intersect(sa, sb, k=k).collect()[0]["est"]
    got_d = theta_a_not_b(sa, sb, k=k).collect()[0]["est"]
    assert abs(got_i - 200) <= sig, got_i
    assert abs(got_d - 300) <= sig, got_d
    # unsaturated (k > all cardinalities): set ops EXACT
    K = 2048
    sa2, sb2 = theta_sketch_table(a, "x", k=K), theta_sketch_table(b, "x", k=K)
    assert theta_intersect(sa2, sb2, k=K).collect()[0]["est"] == 200.0
    assert theta_a_not_b(sa2, sb2, k=K).collect()[0]["est"] == 300.0


def test_streaming_theta_equals_batch_and_guards(spark, tmpdir):
    """Streaming KMV twin (r16): after two micro-batches the committed
    sketch is bit-identical to the batch build over everything
    ingested; replay is a no-op; k persists in theta_meta and
    disagreeing callers are refused; orphan state (versions without
    meta) refuses reads."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.sketch import theta_sketch_table
    from kafka_streams_task_spark.streaming.sketch import (
        read_theta_distinct,
        read_theta_sketch,
        streaming_theta_sketch,
    )

    b0 = [{"id": i, "value": f"u{i}"} for i in range(60)]
    b1 = [{"id": i, "value": f"u{i}"} for i in range(40, 120)]
    src = f"{tmpdir}/th_in"
    os.makedirs(src)
    for i, rows in enumerate((b0, b1)):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("value", T.StringType())]
    )
    state = f"{tmpdir}/th_state"

    def run(ck, **kw):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = streaming_theta_sketch(stream, state, ck, k=64, **kw)
        q.awaitTermination(120)

    run(f"{tmpdir}/th_ckpt")
    both = spark.createDataFrame(
        [(i, f"u{i}") for i in range(120)], "id long, value string"
    )
    want = {r["h"] for r in theta_sketch_table(both, "value", k=64).collect()}
    got = {r["h"] for r in spark.read.parquet(f"{state}/theta_v1").collect()}
    assert got == want
    assert {r["h"] for r in read_theta_sketch(spark, state).collect()} == want
    est = read_theta_distinct(spark, state).collect()[0]
    assert est["n_kept"] == 64
    assert abs(est["est"] - 120) <= 3 * 120 / (62**0.5)  # 3 sigma

    run(f"{tmpdir}/th_ckpt")  # replay no-op
    assert {r["h"] for r in read_theta_sketch(spark, state).collect()} == want

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    with pytest.raises(ValueError, match="built with k"):
        streaming_theta_sketch(stream, state, f"{tmpdir}/th_ckpt", k=32)

    # orphan versions without meta refuse reads
    s2 = f"{tmpdir}/th_orphan"
    theta_sketch_table(both, "value", k=64).write.parquet(f"{s2}/theta_v0")
    with pytest.raises(ValueError, match="committed sketches exist"):
        read_theta_sketch(spark, s2)


def test_theta_sample_uniform_distinct_draw(spark):
    """Bottom-k sample (r16): the (h, value) rows are EXACTLY the k
    smallest distinct hashes with their values (hashlib re-derivation);
    the draw is over the DISTINCT domain (row frequency irrelevant);
    its h column equals theta_sketch_table's sketch so set-op
    estimators accept it directly; partition-invariant."""
    import hashlib

    from kafka_streams_task_spark.operators.sketch import (
        theta_distinct,
        theta_sample,
        theta_sketch_table,
    )

    # heavy duplication: value v0 appears 1000x, others once
    rows = [("v0",)] * 1000 + [(f"v{i}",) for i in range(1, 50)]
    df = spark.createDataFrame(rows, "x string")

    def py_hash(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = sorted((py_hash(f"v{i}"), f"v{i}") for i in range(50))[:16]
    got = [
        (r["h"], r["value"])
        for r in theta_sample(df, "x", k=16).orderBy("h").collect()
    ]
    assert got == want  # frequency of v0 bought it nothing
    got7 = [
        (r["h"], r["value"])
        for r in theta_sample(df.repartition(7), "x", k=16).orderBy("h").collect()
    ]
    assert got7 == want
    # h column IS the sketch
    sk = {r["h"] for r in theta_sketch_table(df, "x", k=16).collect()}
    assert {h for h, _ in got} == sk
    est = theta_distinct(
        theta_sample(df, "x", k=16).select("h"), k=16
    ).collect()[0]
    assert est["n_kept"] == 16


def test_streaming_theta_sample_equals_batch_and_guards(spark, tmpdir):
    """Streaming bottom-k sample twin: state after two batches ==
    batch theta_sample over everything; replay no-op; k refusal;
    orphan refusal."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from kafka_streams_task_spark.operators.sketch import theta_sample
    from kafka_streams_task_spark.streaming.sketch import (
        read_theta_sample,
        streaming_theta_sample,
    )

    b0 = [{"id": i, "value": f"u{i}"} for i in range(50)]
    b1 = [{"id": i, "value": f"u{i}"} for i in range(30, 90)]
    src = f"{tmpdir}/ts_in"
    os.makedirs(src)
    for i, rows in enumerate((b0, b1)):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("value", T.StringType())]
    )
    state = f"{tmpdir}/ts_state"

    def run(ck):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = streaming_theta_sample(stream, state, ck, k=32)
        q.awaitTermination(120)

    run(f"{tmpdir}/ts_ckpt")
    both = spark.createDataFrame(
        [(i, f"u{i}") for i in range(90)], "id long, value string"
    )
    want = {
        (r["h"], r["value"]) for r in theta_sample(both, "value", k=32).collect()
    }
    got = {
        (r["h"], r["value"]) for r in read_theta_sample(spark, state).collect()
    }
    assert got == want

    run(f"{tmpdir}/ts_ckpt")  # replay no-op
    assert {
        (r["h"], r["value"]) for r in read_theta_sample(spark, state).collect()
    } == want

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    )
    with pytest.raises(ValueError, match="built with k"):
        streaming_theta_sample(stream, state, f"{tmpdir}/ts_ckpt", k=16)

    s2 = f"{tmpdir}/ts_orphan"
    theta_sample(both, "value", k=32).write.parquet(f"{s2}/sample_v0")
    with pytest.raises(ValueError, match="committed samples exist"):
        read_theta_sample(spark, s2)


def test_prune_state_versions_bounds_dir_without_touching_reads(spark, tmpdir):
    """r16 retention: an always-on stream writes one self-contained
    version per batch forever; prune_state_versions bounds the dir at
    keep_last while reads (always the max version) and metas are
    untouched; uncommitted (no _SUCCESS) dirs are never counted or
    deleted; keep_last validates."""
    import os

    from kafka_streams_task_spark.operators.sketch import theta_sketch_table
    from kafka_streams_task_spark.streaming.sketch import (
        _THETA,
        read_theta_distinct,
    )
    from kafka_streams_task_spark.streaming.state import (
        check_meta,
        committed_versions,
        prune_state_versions,
    )

    state = f"{tmpdir}/prune_state"
    df = spark.createDataFrame([(f"u{i}",) for i in range(40)], "value string")
    check_meta(spark, state, _THETA, {"k": 16})
    for v in range(5):
        theta_sketch_table(df.limit(10 + v * 5), "value", k=16).write.parquet(
            f"{state}/theta_v{v}"
        )
    # one CRASHED write: dir exists, no _SUCCESS — invisible to both
    os.makedirs(f"{state}/theta_v9")
    before = read_theta_distinct(spark, state).collect()[0]

    pruned = prune_state_versions(spark, state, "theta_v", keep_last=2)
    assert pruned == [0, 1, 2]
    assert committed_versions(spark, state, "theta_v") == [3, 4]
    assert os.path.exists(f"{state}/theta_meta/_SUCCESS")  # meta untouched
    assert os.path.exists(f"{state}/theta_v9")  # not a committed version
    after = read_theta_distinct(spark, state).collect()[0]
    assert (after["n_kept"], after["est"]) == (before["n_kept"], before["est"])

    assert prune_state_versions(spark, state, "theta_v", keep_last=2) == []
    with pytest.raises(ValueError, match="keep_last"):
        prune_state_versions(spark, state, "theta_v", keep_last=0)
