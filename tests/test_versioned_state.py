"""The shared versioned-state driver (streaming/state.py) under a TRUE
redelivery: the checkpoint's newest commit marker is dropped and the
query restarts on the same checkpoint, so Spark re-runs that batch with
the same id and input. The driver must take its skip branch: the read
result stays unchanged and no new version dir appears."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from kafka_streams_task_spark.functions.geohash import geohash_encode
from kafka_streams_task_spark.schemas import WEATHER_RAW


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="versioned_state_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


_DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def _cms():
    from kafka_streams_task_spark.streaming.sketch import (
        read_token_frequencies,
        streaming_token_frequencies,
    )

    def read(spark, state):
        probes = spark.createDataFrame([("x",), ("y",), ("z",)], ["token"])
        return sorted(
            (r["token"], r["est"])
            for r in read_token_frequencies(spark, state, probes).collect()
        )

    return (
        _DOC_SCHEMA,
        [[{"doc_id": 1, "text": "x x y"}], [{"doc_id": 2, "text": "x z z z"}]],
        lambda stream, state, ck: streaming_token_frequencies(
            stream, state, ck, depth=3, width=64
        ),
        read,
    )


def _rollup():
    from kafka_streams_task_spark.streaming.decoupled import (
        rollup_via_foreach_batch,
    )

    def rec(date, f, c):
        return {"lat": 51.51, "lng": -0.07, "wthr_date": date,
                "avg_tmpr_f": f, "avg_tmpr_c": c}

    return (
        WEATHER_RAW,
        [[rec("2020-01-01", 70.0, 30.0)],
         [rec("2020-01-01", 72.0, 32.0), rec("2020-01-02", 72.0, 32.0)]],
        rollup_via_foreach_batch,
        lambda spark, state: sorted(
            (r.geohash, [(w.tmp_f, w.tmp_c, w.date) for w in r.weatherList])
            for r in spark.read.parquet(f"{state}/rollup").collect()
        ),
    )


def _near():
    from kafka_streams_task_spark.streaming.dedup import streaming_dedup_near

    return (
        _DOC_SCHEMA,
        [[{"doc_id": 1, "text": "the cat sat on the mat by the door"}],
         [{"doc_id": 2, "text": "a dog ran across the park at noon"}]],
        streaming_dedup_near,
        lambda spark, state: sorted(
            r.doc_id for r in spark.read.parquet(f"{state}/kept").collect()
        ),
    )


def _write_batches(src: str, batches: list[list[dict]]) -> None:
    os.makedirs(src)
    for i, rows in enumerate(batches):
        with open(f"{src}/b{i}.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        os.utime(f"{src}/b{i}.json", (1000000000 + i * 100,) * 2)


@pytest.mark.parametrize("case", [_cms, _rollup], ids=["cms", "rollup"])
def test_true_redelivery_takes_the_skip_branch(spark, tmpdir, case):
    schema, batches, start, read = case()
    src, state, ck = f"{tmpdir}/in", f"{tmpdir}/state", f"{tmpdir}/ckpt"
    _write_batches(src, batches)

    def run():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        q = start(stream, state, ck)
        q.awaitTermination(120)
        return q

    run()
    before = read(spark, state)
    listing = sorted(os.listdir(state))

    commits = f"{ck}/commits"
    n = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert n == len(batches) - 1
    for name in (str(n), f".{n}.crc"):
        if os.path.exists(f"{commits}/{name}"):
            os.remove(f"{commits}/{name}")

    q = run()
    assert [p["batchId"] for p in q.recentProgress] == [n]  # batch n ran again
    assert os.path.exists(f"{commits}/{n}")
    assert read(spark, state) == before
    assert sorted(os.listdir(state)) == listing  # no new version dir


def test_rollup_refuses_a_different_precision(spark, tmpdir):
    """The rollup's geohash precision is its state meta: restarting a
    precision-4 state dir at precision 5 would merge 5-char and 4-char
    cells into one state, so it is refused up front."""
    from kafka_streams_task_spark.streaming.decoupled import (
        rollup_via_foreach_batch,
    )

    _, batches, _, read = _rollup()
    src, state, ck = f"{tmpdir}/in", f"{tmpdir}/state", f"{tmpdir}/ckpt"
    _write_batches(src, batches[:1])

    def stream():
        return spark.readStream.schema(WEATHER_RAW).json(src)

    rollup_via_foreach_batch(stream(), state, ck, precision=4).awaitTermination(120)
    before = read(spark, state)
    with pytest.raises(ValueError, match="built with precision"):
        rollup_via_foreach_batch(stream(), state, ck, precision=5)
    assert read(spark, state) == before


@pytest.mark.parametrize(
    "case, expect",
    [
        (_rollup, [(geohash_encode(51.51, -0.07, 4),
                    [(71.0, 31.0, "2020-01-01"), (72.0, 32.0, "2020-01-02")])]),
        (_near, [1, 2]),
    ],
    ids=["rollup", "near_dedup"],
)
def test_redelivery_drains_a_stateful_upstream(spark, tmpdir, case, expect):
    """A redelivered batch over a stateful upstream (``dropDuplicates``)
    must still be executed: Spark refuses to commit the upstream's state
    store for a micro-batch that foreachBatch left unconsumed
    (STATE_STORE_COMMIT_VALIDATION_FAILED). Both skip paths, the
    versioned-state driver's (the rollup) and the index dedup's, drain
    the batch, so the restarted query commits and the output is
    unchanged."""
    schema, batches, start, read = case()
    batches[1].append(batches[1][0])  # a duplicate for dropDuplicates to drop
    src, state, ck = f"{tmpdir}/in", f"{tmpdir}/state", f"{tmpdir}/ckpt"
    _write_batches(src, batches)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .dropDuplicates()
        )
        q = start(stream, state, ck)
        q.awaitTermination(120)
        return q

    run()
    before = read(spark, state)
    for name in ("1", ".1.crc"):
        if os.path.exists(f"{ck}/commits/{name}"):
            os.remove(f"{ck}/commits/{name}")

    q = run()
    assert q.exception() is None
    assert [p["batchId"] for p in q.recentProgress] == [1]
    assert os.path.exists(f"{ck}/commits/1")
    assert read(spark, state) == before
    assert before == expect


def test_rollup_refuses_state_with_one_shared_count(spark, tmpdir):
    """A rollup state written before the per-field counts (meta without
    ``counts``) divides both sums by one shared count, so the rollup
    refuses it instead of merging into it."""
    from kafka_streams_task_spark.streaming.decoupled import (
        rollup_via_foreach_batch,
    )

    _, batches, _, _ = _rollup()
    src, state, ck = f"{tmpdir}/in", f"{tmpdir}/state", f"{tmpdir}/ckpt"
    _write_batches(src, batches[:1])
    spark.createDataFrame([(4,)], "precision int").write.parquet(
        f"{state}/rollup_meta"
    )
    stream = spark.readStream.schema(WEATHER_RAW).json(src)
    with pytest.raises(ValueError, match="built with precision=4/counts=None"):
        rollup_via_foreach_batch(stream, state, ck)
