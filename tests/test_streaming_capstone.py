"""r9 streaming capstone (streaming/pipeline.py): continuous crawl →
streaming WARC parse → DSIR importance filter (fitted model) →
expectation-gated snapshot commits — incl. the kill/restart
no-reingest proof and the exactly-once redelivery contract
(VERDICT r8 item 7; the batch twin is test_warc.py::test_r8_capstone)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

ON_TOPIC = "machine learning training data corpus quality tokens"
OFF_TOPIC = "pasta recipe garlic butter simmer sauce dinner"


def _page(i: int, text: str) -> bytes:
    body = f"<html><body><p>{text} page {i}</p></body></html>".encode()
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        + body
    )
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + f"WARC-Record-ID: <urn:uuid:cap-{i}>\r\n".encode()
        + f"WARC-Target-URI: http://site{i % 3}.com/p{i}\r\n".encode()
        + b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        + f"Content-Length: {len(http)}\r\n\r\n".encode()
        + http + b"\r\n\r\n"
    )


@pytest.fixture()
def weights(spark):
    """A fitted model whose target is the ON_TOPIC vocabulary — on-topic
    pages score positive log-weight, off-topic negative."""
    from kafka_streams_task_spark.operators.dsir import dsir_fit

    target = spark.createDataFrame(
        [(i, ON_TOPIC) for i in range(4)], "doc_id bigint, text string"
    )
    raw = target.unionByName(
        spark.createDataFrame(
            [(100 + i, OFF_TOPIC) for i in range(4)],
            "doc_id bigint, text string",
        )
    )
    return dsir_fit(target, raw, n_features=1 << 10)


def _run(spark, crawl_dir, tbl, ckpt, weights):
    from kafka_streams_task_spark.streaming.pipeline import (
        streaming_crawl_to_snapshot,
    )

    q = streaming_crawl_to_snapshot(
        spark,
        str(crawl_dir),
        str(tbl),
        str(ckpt),
        weights,
        threshold=0.0,
        expectations={"has_text": "n_chars > 0"},
        unique_keys={"pk": ["doc_uid"]},
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_capstone_filter_gate_restart_no_reingest(
    spark, tmp_path, weights
):
    from kafka_streams_task_spark.operators.snapshots import (
        snapshot_read,
        snapshot_versions,
    )

    crawl, tbl, ckpt = tmp_path / "crawl", tmp_path / "tbl", tmp_path / "ckpt"
    crawl.mkdir()
    # shard A: 4 on-topic + 3 off-topic pages
    (crawl / "a.warc").write_bytes(
        b"".join(_page(i, ON_TOPIC) for i in range(4))
        + b"".join(_page(10 + i, OFF_TOPIC) for i in range(3))
    )
    _run(spark, crawl, tbl, ckpt, weights)

    got = snapshot_read(spark, str(tbl)).collect()
    # the DSIR gate dropped the off-topic pages; survivors carry the
    # audit columns (WHY they survived)
    assert {r.url for r in got} == {f"http://site{i % 3}.com/p{i}" for i in range(4)}
    assert all(r.dsir_logw > 0 for r in got)
    assert {"doc_uid", "text", "n_grams"} <= set(got[0].asDict())

    # kill/restart on the SAME checkpoint with one NEW shard: only the
    # new shard ingests (no shard-A reingest), as a NEW version
    (crawl / "b.warc").write_bytes(
        b"".join(_page(100 + i, ON_TOPIC) for i in range(2))
        + _page(200, OFF_TOPIC)
    )
    _run(spark, crawl, tbl, ckpt, weights)
    versions = {r.version: r for r in snapshot_versions(spark, str(tbl)).collect()}
    latest = snapshot_read(spark, str(tbl)).collect()
    assert len(latest) == 6  # 4 from A + 2 survivors from B, no dupes
    assert len({r.doc_uid for r in latest}) == 6
    # restart with NOTHING new: no duplicates AND no empty-version spam
    # (empty batches commit nothing — review r9)
    n_versions = snapshot_versions(spark, str(tbl)).count()
    _run(spark, crawl, tbl, ckpt, weights)
    after = snapshot_read(spark, str(tbl)).collect()
    assert len(after) == 6 and len({r.doc_uid for r in after}) == 6
    assert snapshot_versions(spark, str(tbl)).count() == n_versions
    # every committed version is tagged with its batch id
    assert all(
        v.op == "append" or v.version == 1 for v in versions.values()
    )


def _commit_batch(df, tbl, batch_id, deep_check=False, **gates):
    """One capstone micro-batch commit: the stream's own probe and write
    (``state.tagged_snapshot_steps``) run once through ``state.run_batch``."""
    from kafka_streams_task_spark.streaming.state import (
        run_batch,
        tagged_snapshot_steps,
    )

    probe, write = tagged_snapshot_steps(tbl, "batch", deep_check, **gates)
    return run_batch(df, batch_id, write, probe)


def test_commit_batch_redelivery_is_exactly_once(spark, tmp_path):
    from kafka_streams_task_spark.operators.snapshots import (
        committed_tag_version,
        snapshot_read,
        snapshot_versions,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "doc_uid bigint, text string, n_chars int"
    )
    v = _commit_batch(df, tbl, batch_id=0, unique_keys={"pk": ["doc_uid"]})
    assert v == 1 and committed_tag_version(spark, tbl, "batch-0") is not None
    # at-least-once redelivery of the SAME batch: skipped, not
    # duplicated, not refused-by-uniqueness-crash
    assert _commit_batch(
        df, tbl, batch_id=0, unique_keys={"pk": ["doc_uid"]}
    ) is None
    assert snapshot_versions(spark, tbl).count() == 1
    assert snapshot_read(spark, tbl).count() == 2
    # the NEXT batch commits normally
    df2 = spark.createDataFrame(
        [(3, "c", 1)], "doc_uid bigint, text string, n_chars int"
    )
    assert _commit_batch(
        df2, tbl, batch_id=1, unique_keys={"pk": ["doc_uid"]}
    ) == 2
    assert snapshot_read(spark, tbl).count() == 3
    assert committed_tag_version(spark, tbl, "batch-7") is None


def test_capstone_expectation_violation_fails_the_commit(
    spark, tmp_path
):
    """A quality-gate violation refuses the snapshot commit (readers
    keep the prior version) — surfaced as the foreachBatch error that
    fails the streaming query rather than landing bad data."""
    tbl = str(tmp_path / "tbl")
    bad = spark.createDataFrame(
        [(1, "", 0)], "doc_uid bigint, text string, n_chars int"
    )
    with pytest.raises(ValueError, match="has_text"):
        _commit_batch(
            bad, tbl, batch_id=0, expectations={"has_text": "n_chars > 0"}
        )
    from kafka_streams_task_spark.operators.snapshots import (
        snapshot_versions,
    )

    assert snapshot_versions(spark, tbl).count() == 0


def test_capstone_rejects_streaming_weights_and_foreign_checkpoint(
    spark, tmp_path, weights
):
    from kafka_streams_task_spark.streaming.pipeline import (
        streaming_crawl_to_snapshot,
    )

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "a.warc").write_bytes(_page(0, ON_TOPIC))
    stream_w = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with pytest.raises(ValueError, match="batch DataFrame"):
        streaming_crawl_to_snapshot(
            spark, str(crawl), str(tmp_path / "t1"), str(tmp_path / "c1"),
            stream_w, threshold=0.0,
        )
    # a used table dir cannot be re-fed from a FRESH checkpoint
    _run(spark, crawl, tmp_path / "t2", tmp_path / "c2", weights)
    with pytest.raises(ValueError, match="checkpoint"):
        streaming_crawl_to_snapshot(
            spark, str(crawl), str(tmp_path / "t2"), str(tmp_path / "c3"),
            weights, threshold=0.0,
        )


def test_commit_batch_skips_empty_batches(spark, tmp_path):
    """r9 review: availableNow reruns on a quiet source fire empty
    batches — they must not commit empty versions that inflate the
    manifest walk."""
    from kafka_streams_task_spark.operators.snapshots import (
        snapshot_versions,
    )

    tbl = str(tmp_path / "tbl")
    empty = spark.createDataFrame([], "doc_uid bigint, text string")
    assert _commit_batch(empty, tbl, batch_id=0) is None
    assert snapshot_versions(spark, tbl).count() == 0
    full = spark.createDataFrame([(1, "a")], "doc_uid bigint, text string")
    assert _commit_batch(full, tbl, batch_id=1) == 1
    assert _commit_batch(empty, tbl, batch_id=2) is None
    assert snapshot_versions(spark, tbl).count() == 1


def test_latest_tag_walks_past_untagged_manual_commits(spark, tmp_path):
    """The stream's shortcut probe (``deep=False``: only the newest
    tagged version counts) looks past untagged commits."""
    from kafka_streams_task_spark.operators.snapshots import (
        committed_tag_version,
        snapshot_write,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "doc_uid bigint")
    assert committed_tag_version(spark, tbl, "batch-0", deep=False) is None
    snapshot_write(spark, df, tbl, tag="batch-0")
    # an interleaved MANUAL (untagged) commit must not hide the tag
    snapshot_write(spark, spark.createDataFrame([(2,)], "doc_uid bigint"), tbl)
    assert committed_tag_version(spark, tbl, "batch-0", deep=False) == 1


def test_deep_check_survives_interleaved_tagged_ops_commit(spark, tmp_path):
    """A TAGGED ops commit (its own tag, e.g. a backfill) landing between
    a batch's snapshot commit and its checkpoint ack hides the batch's
    tag from the latest-tag shortcut — the redelivered batch would
    double-ingest. ``deep_check`` (passed by the stream for the first
    batch after a restart, the only batch that can be a redelivery)
    scans every committed version and skips correctly (advice r9)."""
    from kafka_streams_task_spark.operators.snapshots import (
        committed_tag_version,
        snapshot_read,
        snapshot_write,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "doc_uid bigint, text string")
    assert _commit_batch(df, tbl, batch_id=0) == 1
    # crash window: ops backfill with its OWN tag lands before the ack
    snapshot_write(
        spark,
        spark.createDataFrame([(99, "ops")], "doc_uid bigint, text string"),
        tbl,
        mode="append",
        tag="ops-backfill",
    )
    # the newest tag is the ops one, so the shortcut probe misses batch-0
    assert committed_tag_version(spark, tbl, "ops-backfill", deep=False) == 2
    assert committed_tag_version(spark, tbl, "batch-0", deep=False) is None
    # restart redelivers batch 0: deep check finds batch-0 anywhere in
    # the committed lineage and skips
    assert _commit_batch(df, tbl, batch_id=0, deep_check=True) is None
    assert snapshot_read(spark, tbl).count() == 2  # 1 doc + 1 ops row
    # steady state after the restart: shortcut path, new batch commits
    df2 = spark.createDataFrame([(2, "b")], "doc_uid bigint, text string")
    assert _commit_batch(df2, tbl, batch_id=1) == 3
