"""Bloom-filter decontamination (operators/dedup.py r7): the broadcast
scale path — bloom pre-filter + exact verify must equal decontaminate()
exactly; bloom alone may only over-flag (no false negatives)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_streams_task_spark.operators.dedup import (
    ShingleBloom,
    bloom_parameters,
    build_shingle_bloom,
    decontaminate,
    decontaminate_bloom,
)

LEAK = "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8"


def _corpus(spark, sf_dir):
    from kafka_streams_task_spark.schemas import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # plant the leak into every doc_id % 25 == 0 (same scheme as the
    # driver leg but denser, so verify has real work)
    return d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 25 == 0, F.concat_ws(" ", F.col("text"), F.lit(LEAK))
        ).otherwise(F.col("text")).alias("text"),
    )


def _benchmark(spark):
    # leak ngram + decoys that are NOT in the corpus
    return spark.createDataFrame(
        [(LEAK,), ("aa bb cc dd ee ff gg hh",), ("k1 k2 k3 k4 k5 k6 k7 k8",)],
        ["text"],
    )


def test_bloom_parameters():
    m, k = bloom_parameters(1_000_000, 0.01)
    assert m % 64 == 0
    assert 9.5 < m / 1_000_000 < 9.7  # ~9.6 bits/element at 1% FPR
    assert k == 7
    assert bloom_parameters(1, 0.5)[1] >= 1
    with pytest.raises(ValueError, match="fpp"):
        bloom_parameters(10, 1.5)
    with pytest.raises(ValueError, match="2\\^50"):
        bloom_parameters(10**15, 1e-9)


def test_bloom_verify_equals_exact(spark, sf_dir):
    corpus, bench = _corpus(spark, sf_dir), _benchmark(spark)
    bloom = build_shingle_bloom(bench, shingle_n=8)
    exact = {
        (r.doc_id, r.n_contaminated_shingles)
        for r in decontaminate(corpus, bench, shingle_n=8).collect()
    }
    verified = {
        (r.doc_id, r.n_contaminated_shingles)
        for r in decontaminate_bloom(corpus, bloom, benchmark=bench).collect()
    }
    assert exact, "planted leak must flag documents"
    assert verified == exact, "bloom + verify must be lossless vs exact"


def test_bloom_alone_has_no_false_negatives(spark, sf_dir):
    """Every exactly-contaminated doc must be bloom-flagged with at
    least its exact shingle count (FPs can only ADD)."""
    corpus, bench = _corpus(spark, sf_dir), _benchmark(spark)
    bloom = build_shingle_bloom(bench, shingle_n=8)
    exact = {
        r.doc_id: r.n_contaminated_shingles
        for r in decontaminate(corpus, bench, shingle_n=8).collect()
    }
    approx = {
        r.doc_id: r.n_contaminated_shingles
        for r in decontaminate_bloom(corpus, bloom).collect()
    }
    for doc_id, n in exact.items():
        assert approx.get(doc_id, 0) >= n, f"doc {doc_id} lost by bloom"


def test_bloom_plan_default_is_codegen_broadcast_only(spark):
    """k broadcast probes, no Python stage, no nested loop /
    cartesian."""
    corpus = spark.createDataFrame([Row(doc_id=1, text=LEAK)])
    bench = spark.createDataFrame([(LEAK,)], ["text"])
    bloom = build_shingle_bloom(bench, shingle_n=8, n_items=8)
    plan = (
        decontaminate_bloom(corpus, bloom)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == bloom.num_hashes
    assert "Python" not in plan and "Arrow" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_bloom_words_table_is_compact(spark):
    """The bitset relation is bounded by m/64 rows — the whole point of
    the structure (9.6 bits vs 64+ bits per element)."""
    bench = spark.createDataFrame([(f"w{i}1 w{i}2 w{i}3 w{i}4 w{i}5 w{i}6 w{i}7 w{i}8",) for i in range(64)], ["text"])
    bloom = build_shingle_bloom(bench, shingle_n=8, fpp=0.01)
    n_words = bloom.words.count()
    assert n_words <= bloom.m_bits // 64
    assert isinstance(bloom, ShingleBloom)


def test_cross_split_contamination(spark):
    """Leaked 8-gram between a train and a test doc is flagged on the
    TEST side; clean docs and intra-train repeats are not."""
    from kafka_streams_task_spark.operators.dedup import cross_split_contamination

    leak = "l1 l2 l3 l4 l5 l6 l7 l8"
    rows = [
        (1, "train", f"alpha beta {leak} gamma delta"),
        (2, "train", f"other text repeating {leak} here too"),  # intra-train dup: fine
        (3, "test", f"prefix words {leak} suffix words"),       # leaked -> flag
        (4, "test", "completely unrelated clean document text with many words"),
        (5, "val", f"{leak} starts this one"),                  # leaked -> flag
    ]
    df = spark.createDataFrame(rows, ["doc_id", "split", "text"])
    got = {
        (r.split, r.doc_id): r.n_contaminated_shingles
        for r in cross_split_contamination(df, shingle_n=8).collect()
    }
    assert set(got) == {("test", 3), ("val", 5)}
    assert all(v >= 1 for v in got.values())
    # min_overlap raises the bar past a single shared shingle
    assert cross_split_contamination(df, shingle_n=8, min_overlap=10).count() == 0


def test_cross_split_contamination_shuffles_only_hashes(spark):
    """The join carries (split, id, hash) — no text column crosses an
    Exchange, and there's no broadcast of the train side assumed."""
    from kafka_streams_task_spark.operators.dedup import cross_split_contamination

    df = spark.createDataFrame(
        [(1, "train", "a b c d e f g h"), (2, "test", "a b c d e f g h")],
        ["doc_id", "split", "text"],
    )
    plan = (
        cross_split_contamination(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "Python" not in plan
