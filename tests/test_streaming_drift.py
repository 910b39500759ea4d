"""Streaming drift monitoring over snapshot versions (streaming/drift.py)
— per-batch commit + drift report, batch equivalence, and exactly-once
under redelivery/restart.
"""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from kafka_streams_task_spark.operators.snapshots import snapshot_versions
from kafka_streams_task_spark.streaming.drift import (
    read_drift_log,
    snapshot_drift_history,
    streaming_snapshot_drift,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sdrift_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_B0 = [
    {"doc_id": 1, "text": "the cat sat on the mat"},
    {"doc_id": 2, "text": "a dog ran in the park"},
]
_B1 = [
    {"doc_id": 3, "text": "the cat sat on the mat again"},
    {"doc_id": 4, "text": "quantum flux capacitors hum"},
]
_B2 = [
    {"doc_id": 5, "text": "entirely novel vocabulary appears here"},
]


def _write_batches(src: str) -> None:
    os.makedirs(src)
    for i, rows in enumerate((_B0, _B1, _B2)):
        p = f"{src}/b{i}.json"
        with open(p, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (1000000000 + 100 * i, 1000000000 + 100 * i))


def _run(spark, src: str, tmpdir: str, ckpt: str = "ckpt"):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = streaming_snapshot_drift(
        stream,
        f"{tmpdir}/table",
        f"{tmpdir}/driftlog",
        f"{tmpdir}/{ckpt}",
    )
    q.awaitTermination(120)
    return q


def test_stream_commits_versions_and_reports(spark, tmpdir):
    src = f"{tmpdir}/src"
    _write_batches(src)
    _run(spark, src, tmpdir)

    vs = snapshot_versions(spark, f"{tmpdir}/table").collect()
    assert sorted(r["version"] for r in vs) == [1, 2, 3]

    log = read_drift_log(spark, f"{tmpdir}/driftlog").collect()
    # 3 batches -> reports for (1,2) and (2,3); batch 0 has no predecessor
    assert sorted((r["old_version"], r["new_version"]) for r in log) == [
        (1, 2),
        (2, 3),
    ]
    by_pair = {(r["old_version"], r["new_version"]): r for r in log}
    # version 2 adds "quantum flux capacitors hum": new vocabulary mass
    assert by_pair[(1, 2)]["new_mass"] > 0
    # old corpus (v1+v2) is 13+11=... all old tokens persist into v3
    assert by_pair[(2, 3)]["lost_mass"] == pytest.approx(0.0)
    assert all(r["js_divergence"] is not None for r in log)


def test_streaming_log_equals_batch_history(spark, tmpdir):
    """The equivalence gate: the streaming log rows must equal
    snapshot_drift_history over the committed table, column for column
    (same code path over the same immutable committed bytes — exact
    equality, not tolerance)."""
    src = f"{tmpdir}/src"
    _write_batches(src)
    _run(spark, src, tmpdir)

    cols = [
        "old_version", "new_version", "old_tokens", "new_tokens",
        "old_vocab", "new_vocab", "shared_vocab", "js_divergence",
        "new_mass", "lost_mass",
    ]
    stream_rows = sorted(
        tuple(r[c] for c in cols)
        for r in read_drift_log(spark, f"{tmpdir}/driftlog").collect()
    )
    batch_rows = sorted(
        tuple(r[c] for c in cols)
        for r in snapshot_drift_history(spark, f"{tmpdir}/table").collect()
    )
    assert stream_rows == batch_rows and len(batch_rows) == 2


def test_redelivery_heals_report_without_recommitting(spark, tmpdir):
    """Genuine foreachBatch redelivery (the at-least-once contract):
    dropping the last batch's commit marker makes the restarted stream
    replay batch 2. The replay must NOT commit a fourth version (the
    manifest tag detects the redelivery) and MUST regenerate the drift
    report we delete to simulate a crash that landed between the
    snapshot commit and the report write."""
    src = f"{tmpdir}/src"
    _write_batches(src)
    _run(spark, src, tmpdir)
    before_log = sorted(
        tuple(r)
        for r in read_drift_log(spark, f"{tmpdir}/driftlog")
        .select("old_version", "new_version", "new_tokens", "js_divergence")
        .collect()
    )

    os.remove(f"{tmpdir}/ckpt/commits/2")
    # local-FS checksum shadow: leaving .2.crc behind makes the commit
    # rewrite look like a concurrent modification to Spark's
    # CheckpointFileManager
    crc = f"{tmpdir}/ckpt/commits/.2.crc"
    if os.path.exists(crc):
        os.remove(crc)
    shutil.rmtree(f"{tmpdir}/driftlog/batch_id=2")
    _run(spark, src, tmpdir)

    after_vs = sorted(
        r["version"]
        for r in snapshot_versions(spark, f"{tmpdir}/table").collect()
    )
    after_log = sorted(
        tuple(r)
        for r in read_drift_log(spark, f"{tmpdir}/driftlog")
        .select("old_version", "new_version", "new_tokens", "js_divergence")
        .collect()
    )
    assert after_vs == [1, 2, 3]  # no recommit
    assert after_log == before_log  # report healed, values identical


def test_quiet_rerun_adds_nothing(spark, tmpdir):
    """availableNow rerun with no new source files: no versions, no
    empty-version spam, drift log untouched."""
    src = f"{tmpdir}/src"
    _write_batches(src)
    _run(spark, src, tmpdir)
    n_vs = snapshot_versions(spark, f"{tmpdir}/table").count()
    n_log = read_drift_log(spark, f"{tmpdir}/driftlog").count()
    _run(spark, src, tmpdir)
    assert snapshot_versions(spark, f"{tmpdir}/table").count() == n_vs
    assert read_drift_log(spark, f"{tmpdir}/driftlog").count() == n_log


def test_empty_history_and_single_version(spark, tmpdir):
    from kafka_streams_task_spark.operators.snapshots import snapshot_write

    path = f"{tmpdir}/t2"
    assert snapshot_drift_history(spark, path).count() == 0
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    snapshot_write(spark, df, path)
    assert snapshot_drift_history(spark, path).count() == 0


def test_orphan_manifest_never_becomes_predecessor(spark, tmpdir):
    """Review catch (r11): a pre-pointer crash inside snapshot_write
    leaves an ORPHAN manifest whose version number is never reused and
    never committed. The drift predecessor and snapshot_versions must
    follow the committed parent lineage, not raw version numbers —
    otherwise the next commit's drift report compares against a
    never-committed twin of itself and logs near-zero drift."""
    import json as _json

    from kafka_streams_task_spark.operators.snapshots import (
        committed_lineage,
        snapshot_write,
    )
    from kafka_streams_task_spark.streaming.drift import _predecessor

    path = f"{tmpdir}/tbl"
    df1 = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    v1 = snapshot_write(spark, df1, path)
    # simulate the crash window: a manifest for v2 exists (with data
    # dir and tag) but the _latest pointer never moved
    orphan = {
        "version": 2, "op": "append", "dirs": ["data_orphan"],
        "n_rows": 1, "committed_at": 0.0, "tag": "drift-9", "parent": 1,
    }
    os.makedirs(f"{path}/data_orphan", exist_ok=True)
    with open(f"{path}/_versions/v00002.json", "w") as f:
        f.write(_json.dumps(orphan))

    # the redelivered/next batch commits PAST the orphan number
    df3 = spark.createDataFrame(
        [(2, "alpha beta delta epsilon zeta")], "doc_id long, text string"
    )
    v3 = snapshot_write(spark, df3, path, mode="append")
    assert (v1, v3) == (1, 3)

    lineage = [m["version"] for m in committed_lineage(spark, path)]
    assert lineage == [1, 3]  # orphan v2 invisible
    assert _predecessor(spark, path, v3) == 1  # not the orphan

    hist = snapshot_drift_history(spark, path).collect()
    assert [(r["old_version"], r["new_version"]) for r in hist] == [(1, 3)]
    # the report is the TRUE v1 -> v3 drift (new vocabulary present),
    # not a self-comparison
    assert hist[0]["new_mass"] > 0


def test_orphan_tag_never_satisfies_redelivery_probes(spark, tmpdir):
    """Second-review catch: a TAGGED orphan manifest must not satisfy
    any redelivery probe once a later commit advances _latest past it —
    otherwise the redelivered batch's rows are skipped, i.e. lost
    forever. The probe's deep walk and its newest-tag shortcut both
    follow the committed lineage."""
    import json as _json

    from kafka_streams_task_spark.operators.snapshots import (
        committed_tag_version,
        snapshot_write,
    )

    path = f"{tmpdir}/tbl"
    snapshot_write(
        spark,
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string"),
        path,
    )
    orphan = {
        "version": 2, "op": "append", "dirs": ["data_orphan"],
        "n_rows": 1, "committed_at": 0.0, "tag": "batch-9", "parent": 1,
    }
    os.makedirs(f"{path}/data_orphan", exist_ok=True)
    with open(f"{path}/_versions/v00002.json", "w") as f:
        f.write(_json.dumps(orphan))
    # an interleaved commit (ops write) moves _latest past the orphan
    snapshot_write(
        spark,
        spark.createDataFrame([(2, "d e f")], "doc_id long, text string"),
        path,
        mode="append",
        tag="ops-1",
    )
    assert committed_tag_version(spark, path, "batch-9") is None
    # the shortcut probe: the newest committed tag is ops-1, not the orphan
    assert committed_tag_version(spark, path, "ops-1", deep=False) == 3
    assert committed_tag_version(spark, path, "batch-9", deep=False) is None


def test_corrupt_parent_pointer_raises_not_loops(spark, tmpdir):
    import json as _json

    from kafka_streams_task_spark.operators.snapshots import (
        committed_lineage,
        snapshot_write,
    )

    path = f"{tmpdir}/tbl"
    snapshot_write(
        spark,
        spark.createDataFrame([(1, "a")], "doc_id long, text string"),
        path,
    )
    m = _json.load(open(f"{path}/_versions/v00001.json"))
    m["parent"] = 1  # self-pointing: would loop forever unguarded
    with open(f"{path}/_versions/v00001.json", "w") as f:
        f.write(_json.dumps(m))
    crc = f"{path}/_versions/.v00001.json.crc"
    if os.path.exists(crc):
        os.remove(crc)  # stale checksum shadow after the hand-edit
    with pytest.raises(ValueError, match="parent"):
        committed_lineage(spark, path)


def test_vacuumed_parent_means_no_predecessor(spark, tmpdir):
    """A vacuumed predecessor's data dirs may be gone: the drift sink
    must report no predecessor (and never step down version numbers,
    where an orphan could sit)."""
    from kafka_streams_task_spark.operators.snapshots import (
        snapshot_vacuum,
        snapshot_write,
    )
    from kafka_streams_task_spark.streaming.drift import _predecessor

    path = f"{tmpdir}/tbl"
    for i in range(3):
        snapshot_write(
            spark,
            spark.createDataFrame(
                [(i, f"text {i}")], "doc_id long, text string"
            ),
            path,
            mode="append" if i else "overwrite",
        )
    assert _predecessor(spark, path, 3) == 2
    snapshot_vacuum(spark, path, keep_last=1)  # drops v1, v2 manifests
    assert _predecessor(spark, path, 3) is None
