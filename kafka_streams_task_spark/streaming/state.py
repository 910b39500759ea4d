"""The one exactly-once protocol for the package's foreachBatch sinks.

foreachBatch is at-least-once. After a crash, Spark re-runs the newest
batch the checkpoint has not marked committed, with the same
``batch_id`` and the same input (a micro-batch is a deterministic batch
job). Exactly-once therefore needs a sink that is idempotent on
``batch_id``. :func:`run_foreach_batch` is the one place in the package
where a foreachBatch query starts. It binds every output dir to the
checkpoint and starts the ``availableNow`` query. Each batch runs
through :func:`run_batch`, which asks the family's probe whether the
batch's effect is already durable: if so, it drains the batch and runs
the family's heal step, if any; if not, it runs the family's write
step. The rules every family shares:

- **Checkpoint binding.** Redelivery keys on the checkpoint's batch-id
  sequence, which restarts at 0 under a fresh checkpoint. Each output
  dir is bound for life to the directory its first checkpoint names
  (:func:`bind_state_to_checkpoint`), and any other checkpoint is
  refused at query start.
- **Drain.** A batch whose write is skipped still runs
  (:func:`drain_batch`): over a stateful upstream, Spark refuses to
  commit a micro-batch whose plan never ran.
- **Commit marker.** A parquet dir counts as written only once its
  ``_SUCCESS`` marker exists. A crash mid-write leaves no marker, and
  the retry overwrites the partial output.

Each probe shape is written once, here:

- **Versioned state** (:func:`run_versioned_state`: the six sketch
  families in ``sketch.py``, the mixing count table in ``mixing.py``
  and the foreachBatch weather rollup in ``decoupled.py``). Batch N
  writes the full cumulative state to ``{state_dir}/{pfx}N``, and
  readers resolve the newest committed version
  (:func:`read_latest_state`). The probe: ``batch_id`` is at most the
  newest committed version. Parameters that give the state its meaning
  (a sketch's width, the rollup's precision) persist beside it and are
  re-checked at start, on every batch and on every read that takes one
  (:func:`check_meta`). An optional publish step derives a serving
  table after each commit, and is the heal step of a redelivery. After
  each commit the newest two versions are kept
  (:func:`prune_state_versions`).
- **Append shards** (:func:`run_index_shards`: the near-dedup index in
  ``dedup.py`` and the IVF-PQ stream index in ``ann.py``). Batch N
  appends only its own shard ``{pfx}N``, so write I/O stays
  shard-sized. The probe: N is covered by the newest compact root or is
  a committed live shard (:func:`committed_index_state`). Every K live
  shards are merged into one compact root
  (:func:`compact_index_shards`); readers scan the compact root plus
  the live shards (:func:`index_roots`).
- **Snapshot tags** (:func:`run_tagged_snapshots`: the crawl capstone
  in ``pipeline.py`` and the drift monitor in ``drift.py``). Batch N
  commits one snapshot version tagged ``{prefix}-N``, and the tag is
  published by the same pointer move as the data. The probe
  (``operators/snapshots.py``'s :func:`committed_tag_version`) returns
  the committed version that carries the tag. Only the first batch
  after a (re)start can be a redelivery, so that batch walks the whole
  committed lineage; later batches look only at the newest tagged
  version. An empty batch commits nothing. The probe and write are
  built once (:func:`tagged_snapshot_steps`).
- **``batch=<id>`` overwrite** (``sources/files.py`` and
  ``sources/warc.py``). Batch N overwrites its own ``batch=N``
  partition dirs, so a redelivery rewrites the same bytes and needs no
  probe.

Each output dir has one writer: the query bound to it. Every probe goes
through the Hadoop FS API, so dirs on any reachable scheme (file://,
hdfs://, s3a://) work.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.snapshots import committed_tag_version, snapshot_write


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


def _qualified(spark: SparkSession, path: str) -> str:
    """``path`` as the absolute URI Hadoop (and so Spark) resolves it to,
    spelled one way: ``file:/x`` and ``/x`` qualify to ``file:/x`` and
    ``file:///x``, so the URI is rebuilt as ``scheme://authority/path``."""
    Path, fs = _fs(spark, path)
    uri = fs.makeQualified(Path(path)).toUri()
    return f"{uri.getScheme()}://{uri.getAuthority() or ''}{uri.getPath()}"


def bind_state_to_checkpoint(spark: SparkSession, state_dir: str, checkpoint_dir: str) -> None:
    """Pair a durable state directory with ONE streaming checkpoint for
    life. Writes a ``_checkpoint`` marker on first use; raises if the dir
    is already bound to a different checkpoint. Restarts on the SAME
    checkpoint pass, which is the supported recovery path. See the module
    docstring for why a fresh checkpoint must be refused.

    The marker holds the checkpoint's Hadoop-qualified URI, and both
    sides compare qualified: Spark resolves a relative
    ``checkpointLocation`` against the JVM's working directory, so
    ``ck`` from two directories names two checkpoints, while ``/x/ck``,
    ``/x/ck/`` and ``file:/x/ck`` name one. A marker holding a relative
    path names no knowable directory and is refused."""
    Path, fs = _fs(spark, state_dir)
    want = _qualified(spark, checkpoint_dir)
    marker = Path(state_dir, "_checkpoint")
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            bound = bytes(stream.readAllBytes()).decode("utf-8").strip()
        finally:
            stream.close()
        if not Path(bound).isAbsolute():
            raise ValueError(
                f"state dir {state_dir!r} is bound to checkpoint {bound!r}, "
                "a relative path: the directory it names depends on the "
                "working directory of the JVM that bound it. Use a fresh "
                "state dir, or rewrite its _checkpoint marker with the "
                "checkpoint's absolute URI."
            )
        if _qualified(spark, bound) != want:
            raise ValueError(
                f"state dir {state_dir!r} is bound to checkpoint {bound!r}; "
                f"starting it under {want!r} would replay batch ids "
                "and silently skip real batches. Use the original checkpoint "
                "dir to resume, or a fresh state dir for a new ingest run."
            )
        return
    fs.mkdirs(Path(state_dir))
    out = fs.create(marker, True)
    try:
        out.write(bytearray(want.encode("utf-8")))
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


def run_batch(
    batch_df: DataFrame,
    batch_id: int,
    write: Callable,
    probe: Callable | None = None,
    heal: Callable | None = None,
):
    """One micro-batch under the module's protocol.
    ``probe(spark, batch_id)`` returns ``(committed, view)``: whether the
    batch's effect is already durable, and whatever the family read to
    decide it. A committed batch is drained, then
    ``heal(spark, batch_id, view)`` runs, and None is returned; any
    other batch returns ``write(batch_df, batch_id, view)``. Without a
    probe every batch is written."""
    spark = batch_df.sparkSession
    committed, view = probe(spark, batch_id) if probe else (False, None)
    if not committed:
        return write(batch_df, batch_id, view)
    drain_batch(batch_df)
    if heal is not None:
        heal(spark, batch_id, view)
    return None


def run_foreach_batch(
    stream: DataFrame,
    checkpoint_dir: str,
    bound_dirs: list[str],
    write: Callable,
    probe: Callable | None = None,
    heal: Callable | None = None,
):
    """Start the ``availableNow`` foreachBatch query that runs each batch
    through :func:`run_batch`, after binding each of ``bound_dirs`` to
    ``checkpoint_dir``. Returns the StreamingQuery."""
    for d in bound_dirs:
        bind_state_to_checkpoint(stream.sparkSession, d, checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        run_batch(batch_df, batch_id, write, probe, heal)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_versioned_state(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    layout: StateLayout,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
    params: dict | None = None,
    publish: Callable[[DataFrame], None] | None = None,
):
    """Start the query that maintains ``layout``'s versioned state at
    ``state_dir``. ``merge(batch_df, prev)`` returns the new cumulative
    state from the micro-batch and the newest committed state (None
    before the first commit). ``params`` is the meta, checked at start
    and on every batch. ``publish(state)`` runs after each commit and on
    each redelivery. Returns the StreamingQuery."""

    def check(spark: SparkSession) -> None:
        if layout.meta is not None:
            check_meta(spark, state_dir, layout, params or {})

    def probe(spark: SparkSession, batch_id: int):
        check(spark)
        versions = committed_versions(spark, state_dir, layout.pfx)
        if not versions:
            return False, None
        prev = spark.read.parquet(f"{state_dir}/{layout.pfx}{versions[-1]}")
        return batch_id <= versions[-1], prev

    def write(batch_df: DataFrame, batch_id: int, prev) -> None:
        spark = batch_df.sparkSession
        path = f"{state_dir}/{layout.pfx}{batch_id}"
        merge(batch_df, prev).write.mode("overwrite").parquet(path)
        if publish is not None:
            publish(spark.read.parquet(path))
        prune_state_versions(spark, state_dir, layout.pfx, keep_last=2)

    def heal(spark: SparkSession, batch_id: int, prev) -> None:
        if publish is not None:
            publish(prev)

    check(stream.sparkSession)
    return run_foreach_batch(
        stream, checkpoint_dir, [state_dir], write, probe, heal
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


def index_roots(
    spark: SparkSession, root_dir: str, pfx: str
) -> tuple[int, list[int], list[str]]:
    """``(covered_hi, live_shard_versions, roots)``: the
    :func:`committed_index_state` view, with the compact root and the
    live shards as one list of parquet roots to read the index from."""
    compact_path, hi, live = committed_index_state(spark, root_dir, pfx)
    roots = ([compact_path] if compact_path else []) + [
        f"{root_dir}/{pfx}{v}" for v in live
    ]
    return hi, live, roots


def run_index_shards(
    stream: DataFrame,
    root_dir: str,
    checkpoint_dir: str,
    pfx: str,
    write: Callable[[DataFrame, int, list[str]], None],
    compact_every: int | None = None,
    defer_cleanup: bool = False,
    check: Callable[[SparkSession], None] | None = None,
):
    """Start the query that appends one ``{root_dir}/{pfx}N`` shard per
    batch. ``write(batch_df, batch_id, roots)`` writes batch N's shard
    (and anything it must land first), given the committed index's
    roots. ``check(spark)`` runs before every probe. Once
    ``compact_every`` live shards have committed, they are merged after
    the write (:func:`compact_index_shards` with ``defer_cleanup``).
    Returns the StreamingQuery."""

    def probe(spark: SparkSession, batch_id: int):
        if check is not None:
            check(spark)
        hi, live, roots = index_roots(spark, root_dir, pfx)
        return batch_id <= hi or batch_id in live, (roots, len(live))

    def write_then_compact(batch_df: DataFrame, batch_id: int, view) -> None:
        roots, n_live = view
        write(batch_df, batch_id, roots)
        # after the shard commit, so a crash leaves the committed view whole
        if compact_every and n_live + 1 >= compact_every:
            compact_index_shards(
                batch_df.sparkSession, root_dir, pfx, defer_cleanup
            )

    return run_foreach_batch(
        stream, checkpoint_dir, [root_dir], write_then_compact, probe
    )


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
    old_hi, live, roots = index_roots(spark, root_dir, pfx)
    if not live:
        return None
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


def tagged_snapshot_steps(
    table_path: str,
    tag_prefix: str,
    deep_first: bool = True,
    prepare: Callable[[DataFrame], DataFrame] | None = None,
    after: Callable[[SparkSession, int, int], None] | None = None,
    **snapshot_kw,
):
    """``(probe, write)`` of the snapshot-tag family for :func:`run_batch`.
    The probe resolves the version tagged ``{tag_prefix}-{batch_id}``
    (:func:`committed_tag_version`), walking the whole lineage on its
    first call if ``deep_first`` and taking the shortcut afterwards. The
    write commits the batch, mapped through ``prepare``, as one
    ``append`` version with that tag (``snapshot_kw`` goes to
    ``snapshot_write``), then runs ``after(spark, batch_id, version)``
    and returns the version; an empty batch commits nothing and returns
    None."""
    deep = [deep_first]

    def probe(spark: SparkSession, batch_id: int):
        first, deep[0] = deep[0], False
        v = committed_tag_version(
            spark, table_path, f"{tag_prefix}-{batch_id}", first
        )
        return v is not None, v

    def write(batch_df: DataFrame, batch_id: int, _) -> int | None:
        df = prepare(batch_df) if prepare is not None else batch_df
        if df.isEmpty():
            return None
        spark = batch_df.sparkSession
        v = snapshot_write(
            spark, df, table_path, mode="append",
            tag=f"{tag_prefix}-{batch_id}", **snapshot_kw,
        )
        if after is not None:
            after(spark, batch_id, v)
        return v

    return probe, write


def run_tagged_snapshots(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    tag_prefix: str,
    prepare: Callable[[DataFrame], DataFrame] | None = None,
    after: Callable[[SparkSession, int, int], None] | None = None,
    **snapshot_kw,
):
    """Start the query that commits each batch through
    :func:`tagged_snapshot_steps`; ``after`` also runs on each
    redelivery of a committed batch. The first batch after a start
    takes the deep tag probe, since only it can be a redelivery: an
    interleaved tagged ops commit can hide its tag from the shortcut.
    Returns the StreamingQuery."""
    probe, write = tagged_snapshot_steps(
        table_path, tag_prefix, True, prepare, after, **snapshot_kw
    )
    return run_foreach_batch(
        stream, checkpoint_dir, [table_path], write, probe, heal=after
    )
