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


def _ann():
    from kafka_streams_task_spark.operators.similarity import build_ivfpq_index
    from kafka_streams_task_spark.streaming.ann import streaming_ivfpq_ingest
    from kafka_streams_task_spark.streaming.state import index_roots

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])

    def start(stream, state, ck):
        if not os.path.exists(state):  # a tiny 4-d model, built once
            spark = stream.sparkSession
            base = spark.createDataFrame(
                [(100 + i, [float(i % 4), 1.0, float(i % 3), 0.5])
                 for i in range(8)],
                schema,
            )
            build_ivfpq_index(base, state, n_clusters=2, m=2, ks=4, sample_size=8)
        return streaming_ivfpq_ingest(stream, state, ck)

    def read(spark, state):
        roots = index_roots(spark, f"{state}/stream_shards", "codes_v")[2]
        return sorted(r.neighbor_id for r in spark.read.parquet(*roots).collect())

    return (
        schema,
        [[{"vec_id": 1, "embedding": [1.0, 0.0, 2.0, 0.5]}],
         [{"vec_id": 2, "embedding": [0.0, 1.0, 1.0, 3.0]}]],
        start,
        read,
    )


def _drift():
    from kafka_streams_task_spark.operators.snapshots import snapshot_read
    from kafka_streams_task_spark.streaming.drift import (
        read_drift_log,
        streaming_snapshot_drift,
    )

    def read(spark, state):
        docs = sorted(r.doc_id for r in snapshot_read(spark, f"{state}/tbl").collect())
        log = sorted(
            (r.batch_id, r.old_version, r.new_version)
            for r in read_drift_log(spark, f"{state}/drift").collect()
        )
        return docs, log

    return (
        _DOC_SCHEMA,
        [[{"doc_id": 1, "text": "the cat sat on the mat"}],
         [{"doc_id": 2, "text": "a dog ran across the park"}]],
        lambda stream, state, ck: streaming_snapshot_drift(
            stream, f"{state}/tbl", f"{state}/drift", ck
        ),
        read,
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
        (_ann, [1, 2]),
        (_drift, ([1, 2], [(1, 1, 2)])),
    ],
    ids=["rollup", "near_dedup", "ann", "drift"],
)
def test_redelivery_drains_a_stateful_upstream(spark, tmpdir, case, expect):
    """A redelivered batch over a stateful upstream (``dropDuplicates``)
    must still be executed: Spark refuses to commit the upstream's state
    store for a micro-batch that foreachBatch left unconsumed
    (STATE_STORE_COMMIT_VALIDATION_FAILED). The one driver's skip path
    drains the batch for every probe shape: versioned state (the
    rollup), append shards (the near-dedup and ANN indexes) and
    snapshot tags (drift), so the restarted query commits and the
    output is unchanged."""
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


def test_tagged_stream_commit_path(spark, tmpdir):
    """The snapshot-tag stream's own commit path: an empty batch commits
    nothing; after a restart, the first batch takes the deep probe, so a
    redelivered batch whose tag sits under an interleaved tagged ops
    commit is skipped (the shortcut sees only ``ops-backfill`` and would
    append it again); and ``snapshot_kw`` reaches ``snapshot_write``,
    so a failed expectation fails the query."""
    from kafka_streams_task_spark.operators.snapshots import (
        committed_lineage,
        snapshot_read,
        snapshot_write,
    )
    from kafka_streams_task_spark.streaming.state import run_tagged_snapshots

    src, tbl, ck = f"{tmpdir}/in", f"{tmpdir}/tbl", f"{tmpdir}/ckpt"
    _write_batches(
        src, [[{"doc_id": 1, "text": "a"}], [], [{"doc_id": 2, "text": "b"}]]
    )

    def run():
        stream = spark.readStream.schema(_DOC_SCHEMA).option("maxFilesPerTrigger", 1).json(src)
        q = run_tagged_snapshots(
            stream, tbl, ck, "batch", expectations={"has_text": "length(text) > 0"}
        )
        q.awaitTermination(120)
        return q

    def tags():
        return [(int(m["version"]), m.get("tag")) for m in committed_lineage(spark, tbl)]

    run()
    assert tags() == [(1, "batch-0"), (2, "batch-2")]
    snapshot_write(
        spark, spark.createDataFrame([(99, "ops")], _DOC_SCHEMA), tbl,
        mode="append", tag="ops-backfill",
    )
    for name in ("2", ".2.crc"):
        if os.path.exists(f"{ck}/commits/{name}"):
            os.remove(f"{ck}/commits/{name}")

    q = run()
    assert [p["batchId"] for p in q.recentProgress] == [2]
    assert sorted(r.doc_id for r in snapshot_read(spark, tbl).collect()) == [1, 2, 99]
    assert tags() == [(1, "batch-0"), (2, "batch-2"), (3, "ops-backfill")]

    with open(f"{src}/b3.json", "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": ""}))
    with pytest.raises(Exception, match="has_text"):
        run()
    assert len(tags()) == 3


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


def test_binding_compares_the_directory_a_checkpoint_names(spark, tmpdir):
    """The binding marker holds the checkpoint's qualified URI, so every
    spelling of one directory passes. A relative path names a directory
    only together with the JVM's working directory: a relative
    checkpoint binds as its absolute URI, and a marker holding a relative
    path is refused."""
    from kafka_streams_task_spark.streaming.state import bind_state_to_checkpoint

    state, ck = f"{tmpdir}/state", f"{tmpdir}/ck"
    bind_state_to_checkpoint(spark, state, ck)
    with open(f"{state}/_checkpoint") as f:
        assert f.read() == f"file://{ck}"
    for same in (f"{ck}/", f"file:{ck}", f"file://{ck}"):
        bind_state_to_checkpoint(spark, state, same)
    with pytest.raises(ValueError, match="bound to checkpoint"):
        bind_state_to_checkpoint(spark, state, f"{tmpdir}/other")

    bind_state_to_checkpoint(spark, f"{tmpdir}/state2", "ck_rel")
    with open(f"{tmpdir}/state2/_checkpoint") as f:
        marker = f.read()
    assert marker.startswith("file:/") and marker.endswith("/ck_rel")

    for name in ("_checkpoint", "._checkpoint.crc"):
        if os.path.exists(f"{state}/{name}"):
            os.remove(f"{state}/{name}")
    with open(f"{state}/_checkpoint", "w") as f:
        f.write("ck")
    with pytest.raises(ValueError, match="bound to checkpoint"):
        bind_state_to_checkpoint(spark, state, "ck")


def test_foreach_batch_starts_only_in_state_py():
    """``streaming/state.py`` holds the package's one exactly-once
    foreachBatch driver: no other module calls ``foreachBatch``, binds a
    checkpoint or drains a batch itself."""
    import pathlib
    import tokenize

    import kafka_streams_task_spark

    pkg = pathlib.Path(kafka_streams_task_spark.__file__).parent
    names = {"foreachBatch", "bind_state_to_checkpoint", "drain_batch"}
    users: dict[str, list[str]] = {}
    for path in sorted(pkg.rglob("*.py")):
        with tokenize.open(path) as f:
            used = {
                t.string
                for t in tokenize.generate_tokens(f.readline)
                if t.type == tokenize.NAME
            }
        for name in names & used:
            users.setdefault(name, []).append(path.relative_to(pkg).as_posix())
    assert users == {name: ["streaming/state.py"] for name in names}
