"""Durable versioned state for the foreachBatch sinks: the one
exactly-once protocol every cumulative-state family runs through.

foreachBatch is at-least-once. After a crash, Spark re-runs the newest
batch the checkpoint has not marked committed, with the same
``batch_id`` and the same input (a micro-batch is a deterministic batch
job). Exactly-once therefore needs an idempotent sink keyed on
``batch_id``. :func:`run_versioned_state` is that sink. It serves the
six sketch families in ``sketch.py`` (MG, CMS, DDSketch, HLL, theta,
theta sample), the mixing count table (``mixing.py``), the CDC view
(``cdc.py``) and the foreachBatch weather rollup (``decoupled.py``).
Each family supplies only its merge step, its parameters and, if it
serves a derived table, a publish step. The rules:

- **Commit marker.** Batch N writes the full cumulative state to
  ``{state_dir}/{pfx}N`` with ``mode("overwrite")``. A version counts as
  committed only once parquet's ``_SUCCESS`` marker exists
  (:func:`committed_versions`). A crash mid-write leaves no marker, so the
  retry merges again from the previous version and overwrites the partial
  output. Readers resolve the newest committed version
  (:func:`read_latest_state`).
- **Redelivery.** A batch is a redelivery when ``batch_id`` is at most the
  newest committed version. Its effect is already durable, so the merge
  is skipped, but the batch still runs (:func:`drain_batch`).
- **Checkpoint binding.** Redelivery keys on the checkpoint's batch-id
  sequence, which restarts at 0 under a fresh checkpoint. The state dir
  is bound to one checkpoint for life (:func:`bind_state_to_checkpoint`),
  and any other checkpoint is refused at query start.
- **Parameter meta.** Parameters that give the state its meaning (a
  sketch's width, the rollup's geohash precision) persist beside it in a
  one-row parquet dir, written on first contact and re-checked at query
  start, on every batch and on every read that takes a parameter
  (:func:`check_meta`). A mismatch raises instead of merging or reading
  under the wrong parameters.
- **Publish.** An optional step that derives a serving table from the
  state. It runs after each commit and again on a redelivery, which
  covers a crash between the commit and the publish.
- **Retention.** After each commit the newest two versions are kept
  (:func:`prune_state_versions`): the new one, and the one a concurrent
  reader may have resolved just before it.

A state dir has one writer: the query bound to it. Every probe goes
through the Hadoop FS API, so state dirs on any reachable scheme
(file://, hdfs://, s3a://) work. The near-dedup and ANN indexes
(``dedup.py``, ``ann.py``) reuse the commit marker and the binding, but
append per-batch shards instead of rewriting one state, and merge them
with :func:`compact_index_shards`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class StateLayout:
    """How one family names its state. Versions are ``{pfx}N``; ``meta``
    is the parameter dir and ``ddl`` its columns (both None for a family
    without parameters). ``family`` and ``what`` (a plural noun) word
    the errors."""

    family: str
    pfx: str
    what: str
    meta: str | None = None
    ddl: str | None = None


def _fs(spark: SparkSession, path: str):
    """``(Path class, FileSystem)`` for ``path`` through the Hadoop FS API."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path, Path(path).getFileSystem(spark._jsc.hadoopConfiguration())


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FS API. ``os.path.exists`` is
    always False for a non-local URI, which would silently disable any
    check that rides on it."""
    Path, fs = _fs(spark, path)
    return bool(fs.exists(Path(path)))


def meta_committed(spark: SparkSession, meta_path: str) -> bool:
    """True iff a parameter meta dir carries the ``_SUCCESS`` marker
    parquet publishes last. A crash mid first write leaves a dir that
    exists but cannot be read; gating on the marker lets the next
    contact rewrite it instead of failing every later batch and read."""
    return path_exists(spark, f"{meta_path}/_SUCCESS")


def committed_versions(spark: SparkSession, root_dir: str, pfx: str) -> list[int]:
    """Sorted versions N for which ``{root_dir}/{pfx}{N}/_SUCCESS``
    exists — i.e. fully committed parquet state directories."""
    Path, fs = _fs(spark, root_dir)
    versions: list[int] = []
    if fs.exists(Path(root_dir)):
        for st in fs.listStatus(Path(root_dir)):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(pfx):
                try:
                    v = int(name[len(pfx):])
                except ValueError:
                    continue
                if fs.exists(Path(st.getPath(), "_SUCCESS")):
                    versions.append(v)
    versions.sort()
    return versions


def bind_state_to_checkpoint(spark: SparkSession, state_dir: str, checkpoint_dir: str) -> None:
    """Pair a durable state directory with ONE streaming checkpoint for
    life. Writes a ``_checkpoint`` marker on first use; raises if the dir
    is already bound to a different checkpoint. Restarts on the SAME
    checkpoint pass, which is the supported recovery path. See the module
    docstring for why a fresh checkpoint must be refused."""
    Path, fs = _fs(spark, state_dir)
    marker = Path(state_dir, "_checkpoint")
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            bound = bytes(stream.readAllBytes()).decode("utf-8").strip()
        finally:
            stream.close()
        if bound != checkpoint_dir:
            raise ValueError(
                f"state dir {state_dir!r} is bound to checkpoint {bound!r}; "
                f"starting it under {checkpoint_dir!r} would replay batch ids "
                "and silently skip real batches. Use the original checkpoint "
                "dir to resume, or a fresh state dir for a new ingest run."
            )
        return
    fs.mkdirs(Path(state_dir))
    out = fs.create(marker, True)
    try:
        out.write(bytearray(checkpoint_dir.encode("utf-8")))
    finally:
        out.close()


def _read_meta(spark: SparkSession, meta_path: str) -> dict:
    """The single meta row as a plain dict, so an optional column added
    after the meta was written reads as None through ``.get``."""
    return spark.read.parquet(meta_path).collect()[0].asDict()


_CASTS = {"int": int, "double": float, "string": str}


def check_meta(
    spark: SparkSession, state_dir: str, layout: StateLayout, params: dict
) -> None:
    """Persist ``params`` as ``layout``'s meta on first contact;
    afterwards refuse any caller whose parameters disagree with the
    durable ones. Columns come from ``layout.ddl``; a parameter missing
    from ``params``, or a column missing from an older meta, reads as
    None. A meta dir without ``_SUCCESS`` is rewritten, not read."""
    cols = [c.split() for c in layout.ddl.split(",")]
    want = tuple(params.get(name) for name, _ in cols)
    meta_path = f"{state_dir}/{layout.meta}"
    if meta_committed(spark, meta_path):
        row = _read_meta(spark, meta_path)
        got = tuple(row.get(name) for name, _ in cols)
        if got != want:
            built = "/".join(f"{name}={v!r}" for (name, _), v in zip(cols, got))
            raise ValueError(
                f"{layout.family} state at {state_dir} was built with "
                f"{built}; got {'/'.join(map(repr, want))}"
            )
    else:
        row = tuple(
            None if v is None else _CASTS[t](v) for (_, t), v in zip(cols, want)
        )
        spark.createDataFrame([row], layout.ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(meta_path)


def read_latest_state(
    spark: SparkSession, state_dir: str, layout: StateLayout
) -> tuple[DataFrame, dict]:
    """``(state, meta)``: the newest committed version and the meta row
    (``{}`` for a family without parameters). Raises when nothing has
    committed, and when versions exist without their meta: the state's
    parameters are then unknown, so no caller-supplied value can be
    trusted against it."""
    versions = committed_versions(spark, state_dir, layout.pfx)
    meta_path = f"{state_dir}/{layout.meta}"
    has_meta = layout.meta is None or meta_committed(spark, meta_path)
    if not versions:
        missing = "" if has_meta else f" and no {layout.meta}"
        raise ValueError(f"no committed {layout.what}{missing} under {state_dir}")
    if not has_meta:
        raise ValueError(
            f"no {layout.meta} under {state_dir} but committed {layout.what} "
            "exist — the durable state's build parameters are unknown "
            "(partial state-dir cleanup?), so caller-supplied parameters "
            "cannot be trusted against it"
        )
    meta = _read_meta(spark, meta_path) if layout.meta else {}
    return spark.read.parquet(f"{state_dir}/{layout.pfx}{versions[-1]}"), meta


def drain_batch(batch_df: DataFrame) -> None:
    """Execute a micro-batch into the ``noop`` sink. A foreachBatch skip
    path calls it for a redelivered batch: when the batch's plan holds a
    stateful operator (say ``dropDuplicates`` upstream), Spark refuses to
    commit a micro-batch whose plan never ran
    (STATE_STORE_COMMIT_VALIDATION_FAILED)."""
    batch_df.write.format("noop").mode("overwrite").save()


def run_versioned_state(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    layout: StateLayout,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
    params: dict | None = None,
    publish: Callable[[DataFrame], None] | None = None,
):
    """Start the ``availableNow`` foreachBatch query that maintains
    ``layout``'s state at ``state_dir`` under the module's protocol.
    ``merge(batch_df, prev)`` returns the new cumulative state from the
    micro-batch and the newest committed state (None before the first
    commit). ``params`` is the meta, checked at start and on every
    batch. ``publish(state)`` runs after each commit and on each
    redelivery. Returns the StreamingQuery."""

    def check(spark: SparkSession) -> None:
        if layout.meta is not None:
            check_meta(spark, state_dir, layout, params or {})

    bind_state_to_checkpoint(stream.sparkSession, state_dir, checkpoint_dir)
    check(stream.sparkSession)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        check(spark)
        versions = committed_versions(spark, state_dir, layout.pfx)
        prev = (
            spark.read.parquet(f"{state_dir}/{layout.pfx}{versions[-1]}")
            if versions
            else None
        )
        if versions and batch_id <= versions[-1]:
            drain_batch(batch_df)
            if publish is not None:
                publish(prev)
            return
        path = f"{state_dir}/{layout.pfx}{batch_id}"
        merge(batch_df, prev).write.mode("overwrite").parquet(path)
        if publish is not None:
            publish(spark.read.parquet(path))
        prune_state_versions(spark, state_dir, layout.pfx, keep_last=2)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def prune_state_versions(
    spark: SparkSession, root_dir: str, pfx: str, keep_last: int = 2
) -> list[int]:
    """Delete old self-contained state versions, keeping the newest
    ``keep_last``. :func:`run_versioned_state` runs it after every commit
    with ``keep_last=2``. Readers and the redelivery rule only need the
    newest version, which is always kept; the second one covers a reader
    that resolved it just before a new commit.

    Only ``{pfx}N`` version directories are touched — parameter metas,
    ``_checkpoint`` markers, and compact/shard dirs (which have their
    own lifecycle, :func:`compact_index_shards`) are never candidates.
    Crash-safe: deletion is pure cleanup of fully-committed dirs; a
    crash mid-prune leaves some extra old versions for the next prune.
    Returns the pruned version numbers."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    versions = committed_versions(spark, root_dir, pfx)
    victims = versions[:-keep_last] if len(versions) > keep_last else []
    Path, fs = _fs(spark, root_dir)
    for v in victims:
        fs.delete(Path(root_dir, f"{pfx}{v}"), True)
    return victims


def committed_index_state(
    spark: SparkSession, root_dir: str, pfx: str
) -> tuple[str | None, int, list[int]]:
    """``(compact_path, covered_hi, live_shard_versions)`` — the read
    view of a compactable shard index: the newest committed
    ``{pfx}compact_{hi}`` directory (None / hi=-1 when never compacted
    — batch ids start at 0, so 0 is a REAL coverable version, not a
    sentinel) plus the committed per-batch shards with version > hi.
    Shards <= hi and older compact dirs are leftovers of a crash between
    a compaction's publish and its cleanup — correct to ignore (their
    rows live in the newest compact dir) and deleted lazily by the next
    :func:`compact_index_shards`."""
    Path, fs = _fs(spark, root_dir)
    compact_hi, shards = -1, []
    if fs.exists(Path(root_dir)):
        for st in fs.listStatus(Path(root_dir)):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith(pfx)):
                continue
            suffix = name[len(pfx):]
            if not fs.exists(Path(st.getPath(), "_SUCCESS")):
                continue
            if suffix.startswith("compact_"):
                try:
                    compact_hi = max(compact_hi, int(suffix[len("compact_"):]))
                except ValueError:
                    continue
            else:
                try:
                    shards.append(int(suffix))
                except ValueError:
                    continue
    live = sorted(v for v in shards if v > compact_hi)
    path = (
        f"{root_dir}/{pfx}compact_{compact_hi}" if compact_hi >= 0 else None
    )
    return path, compact_hi, live


def compact_index_shards(
    spark: SparkSession, root_dir: str, pfx: str, defer_cleanup: bool = False
) -> str | None:
    """Merge the current compact root (if any) and every live committed
    shard into ONE new ``{pfx}compact_{hi}`` directory (hi = newest
    merged shard version), then delete the covered shards and older
    compact dirs. Returns the new compact path, or None when there was
    nothing to merge.

    ``defer_cleanup`` (r15, for shard dirs with EXTERNAL readers — the
    streaming ANN index): delete only what the PREVIOUS compact root
    already covered, keeping this round's newly-covered shards (and the
    previous compact root) on disk until the NEXT compaction. Readers
    resolve the newest committed compact root and ignore covered
    shards, so the leftovers are correctness-neutral (exactly the
    crash-leftover case below) — but a reader that LISTED the dir just
    before this publish keeps every root it planned to scan for a full
    compaction interval, instead of racing the delete into a
    FileNotFound. The single-reader streams (dedup) keep the default
    immediate cleanup.

    Keeps a long-lived stream's per-batch index read at one parquet
    root + the few shards since the last compaction, instead of one
    root per ever-committed batch (advice r9: O(N^2) cumulative listing
    and scan cost). Crash-safe by construction: the merged dir is
    published by its own ``_SUCCESS`` (a half-written attempt is
    invisible and simply overwritten by the retry), readers resolve the
    NEWEST committed compact dir and ignore shards it covers, and the
    covered-shard deletes after publish are pure cleanup — a crash
    between publish and delete leaves harmless leftovers the next
    compaction removes. Write amplification is the usual log-structured
    trade: each compaction rewrites the index once, so run it every K
    batches (K ~ tens) — reads stay O(K) roots, writes stay O(N/K)
    full rewrites over the stream's life."""
    compact_path, old_hi, live = committed_index_state(spark, root_dir, pfx)
    if not live:
        return None
    roots = ([compact_path] if compact_path else []) + [
        f"{root_dir}/{pfx}{v}" for v in live
    ]
    new_hi = live[-1]
    new_path = f"{root_dir}/{pfx}compact_{new_hi}"
    spark.read.parquet(*roots).write.mode("overwrite").parquet(new_path)
    # cleanup AFTER publish: everything below is now covered by new_path
    # (with defer_cleanup, only below the PREVIOUS cover — see docstring)
    cut = old_hi if defer_cleanup else new_hi
    Path, fs = _fs(spark, root_dir)
    for st in fs.listStatus(Path(root_dir)):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(pfx)):
            continue
        suffix = name[len(pfx):]
        if suffix.startswith("compact_"):
            try:
                stale = int(suffix[len("compact_"):]) < cut
            except ValueError:
                continue
        else:
            try:
                stale = int(suffix) <= cut
            except ValueError:
                continue
        if stale:
            fs.delete(st.getPath(), True)
    return new_path
