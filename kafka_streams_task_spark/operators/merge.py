"""CDC merge / upsert: apply a change stream to a snapshot table.

The incremental-maintenance primitive a 100 TB corpus needs between full
rebuilds: crawls, label fixes, and takedown requests arrive as (key, op,
version) change rows, and the curated snapshot must advance to
latest-wins state without rewriting data that did not change. The
reference repo has no analogue (its KTables are changelog-backed by the
broker); this is the batch re-expression of "KTable = latest value per
key" (SURVEY.md §2.3 A6) generalized to upsert+delete with explicit
versions — i.e. the MERGE INTO shape, built from anti-join + union so it
runs on plain parquet without a table format.

Scale shape:
  * ``latest_changes`` is one partial+final ``max_by`` aggregate over the
    change set — the change set is the SMALL side by definition (a day's
    crawl delta vs the corpus), and only it shuffles fully.
  * ``apply_changes`` touches the snapshot with exactly one join (anti on
    the changed keys). Catalyst broadcasts the aggregated key set when it
    fits ``autoBroadcastJoinThreshold``, making the merge a single
    broadcast-anti scan over the snapshot — the snapshot itself never
    shuffles. With a huge delta it degrades to one shuffle join on the
    key, which is the floor for any merge.
  * ``merge_into_partitioned`` confines the REWRITE to partitions the
    delta actually touches: untouched partition directories are neither
    read nor written (partition pruning on the read, dynamic overwrite on
    the write). A 10 TB/day delta against a 100 TB corpus rewrites only
    the affected date/source partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..schemas import local_table

#: Change-operation codes (the Debezium-ish two-verb reduction: creates
#: and updates are both "upsert in full", deletes are tombstones).
OP_UPSERT = "U"
OP_DELETE = "D"


def _validate_changes(
    changes: DataFrame, key_cols: list[str], version_col: str, op_col: str
) -> None:
    """Fail fast with a names-the-problem error instead of an analysis
    exception three operators deep."""
    missing = [
        c for c in (*key_cols, version_col, op_col) if c not in changes.columns
    ]
    if missing:
        raise ValueError(
            f"change stream is missing column(s) {missing}; have "
            f"{changes.columns} (keys={key_cols}, version={version_col!r}, "
            f"op={op_col!r})"
        )


def _checked_ops(changes: DataFrame, op_col: str) -> DataFrame:
    """Runtime op-code guard: any op outside {OP_UPSERT, OP_DELETE} raises
    at execution instead of silently deleting the row (the anti-join
    removes every changed key, so a malformed verb — 'u', 'I', 'c' from a
    different CDC producer — would otherwise vanish data). A raise_error
    column instead of a driver-side aggregate: zero extra passes over the
    delta, and the check rides inside whatever job consumes it."""
    ok = F.col(op_col).isin(OP_UPSERT, OP_DELETE)
    return changes.withColumn(
        op_col,
        F.when(ok, F.col(op_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"unknown CDC op code in {op_col!r} (expected "
                        f"{OP_UPSERT!r} or {OP_DELETE!r}): "
                    ),
                    F.coalesce(F.col(op_col).cast("string"), F.lit("NULL")),
                )
            )
        ),
    )


def latest_changes(
    changes: DataFrame,
    key_cols: list[str],
    version_col: str = "version",
    op_col: str = "op",
) -> DataFrame:
    """Collapse a change stream to one latest row per key.

    One ``max_by`` hash aggregation (partial+final — the same no-window
    shape as ``latest_per_key``, operators/weather.py): the ordering key
    is ``(version, op, payload...)`` as a struct, so ties on ``version``
    still resolve to ONE deterministic winner (lexicographic on the
    remaining columns) instead of a partition-order coin flip — replays
    and speculative tasks agree. Callers with a total version order per
    key (the normal CDC contract) never reach the tie-break.
    """
    _validate_changes(changes, key_cols, version_col, op_col)
    changes = _checked_ops(changes, op_col)
    payload = [c for c in changes.columns if c not in key_cols]
    ordering = F.struct(
        F.col(version_col), F.col(op_col),
        *[F.col(c) for c in payload if c not in (version_col, op_col)],
    )
    picked = changes.groupBy(*key_cols).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ordering).alias("_row")
    )
    return picked.select(*key_cols, *[F.col(f"_row.{c}").alias(c) for c in payload])


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    version_col: str = "version",
    op_col: str = "op",
) -> DataFrame:
    """Latest-wins merge: the snapshot advanced by the change stream.

    ``changes`` carries the snapshot's columns plus ``op_col``
    (``OP_UPSERT``/``OP_DELETE``) and ``version_col``; upserts replace the
    whole row (full-row CDC images, not partial patches). Semantics:

      * a key whose latest change is an upsert takes the change's payload
        (insert if absent from the snapshot);
      * a key whose latest change is a delete disappears;
      * every other snapshot row passes through untouched.

    Exactly one aggregate over the delta and one anti-join against the
    snapshot; column order of the result matches the snapshot.
    """
    _validate_changes(changes, key_cols, version_col, op_col)
    extra = [c for c in snapshot.columns if c not in changes.columns]
    if extra:
        raise ValueError(
            f"changes lack snapshot column(s) {extra} — upserts are full-row "
            "images (partial patches are not supported)"
        )
    latest = latest_changes(changes, key_cols, version_col, op_col)
    # NULL-SAFE anti-join: a plain on=key_cols join uses EqualTo, under
    # which a null key never matches — a delete of a null-keyed row would
    # silently no-op and an upsert would duplicate it. eqNullSafe keeps
    # the hash-join (and broadcast) plan shape.
    snap_a = snapshot.alias("__merge_snap")
    keys_a = latest.select(*key_cols).alias("__merge_chg")
    # explicit aliases: snapshot and changes often SHARE lineage (a delta
    # synthesized from the snapshot), and bare df[c] references would
    # resolve to the same attribute (trivially-true predicate)
    cond = None
    for c in key_cols:
        e = F.col(f"__merge_snap.{c}").eqNullSafe(F.col(f"__merge_chg.{c}"))
        cond = e if cond is None else (cond & e)
    kept = snap_a.join(keys_a, cond, "left_anti")
    upserts = latest.filter(F.col(op_col) == OP_UPSERT).select(*snapshot.columns)
    return kept.unionByName(upserts)


def scd2_init(
    snapshot: DataFrame,
    version,
    version_type: str = "long",
) -> DataFrame:
    """Seed an SCD Type-2 history from a plain snapshot: every row
    becomes an open interval ``[version, null)``. Column layout:
    payload columns + ``valid_from`` + ``valid_to`` (null = current).
    ``version_type`` sets the interval columns' type (long versions by
    default; pass ``"timestamp"`` for event-time histories)."""
    collide = [c for c in ("valid_from", "valid_to") if c in snapshot.columns]
    if collide:
        raise ValueError(
            f"snapshot already has interval column(s) {collide} — scd2_init "
            "would silently shadow them; rename before seeding a history"
        )
    return snapshot.select(
        "*",
        F.lit(version).cast(version_type).alias("valid_from"),
        F.lit(None).cast(version_type).alias("valid_to"),
    )


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    version_col: str = "version",
    op_col: str = "op",
) -> DataFrame:
    """Slowly-changing-dimension Type 2: apply a versioned change stream
    to an interval history, KEEPING every superseded row (the audit /
    time-travel form of :func:`apply_changes` — "what did this key look
    like at version v?" stays answerable).

    Semantics (all changes apply, in version order per key — not just the
    latest): each upsert opens an interval ``[version, next-change
    version)``; the key's previously-current interval closes at the
    key's FIRST incoming change; a delete closes the open interval
    without opening one (the key has no current row until a later
    upsert). Already-closed history rows pass through untouched.
    Versions must be unique per key (the CDC contract); the change
    ordering still tie-breaks deterministically on (version, op,
    payload) like :func:`latest_changes`.

    Scale shape: one window over the CHANGE SET per key (the small side
    — lead() gives each upsert its closing version with no self-join),
    one min aggregate over the change set, and one key-partitioned
    left join against ONLY the history's current slice; closed history
    (the bulk at 100 TB — years of audit rows) is touched by nothing
    but the final union."""
    _validate_changes(changes, key_cols, version_col, op_col)
    if not {"valid_from", "valid_to"} <= set(history.columns):
        raise ValueError(
            "history lacks valid_from/valid_to interval columns — seed it "
            "with scd2_init first"
        )
    extra = [
        c
        for c in history.columns
        if c not in ("valid_from", "valid_to") and c not in changes.columns
    ]
    if extra:
        raise ValueError(
            f"changes lack history payload column(s) {extra} — SCD2 upserts "
            "are full-row images (partial patches are not supported)"
        )
    collide = [c for c in ("valid_from", "valid_to") if c in changes.columns]
    if collide:
        raise ValueError(
            f"changes carry reserved interval column(s) {collide}; intervals "
            f"are derived from {version_col!r}, not supplied"
        )
    changes = _checked_ops(changes, op_col)
    payload = [c for c in changes.columns if c not in (op_col,)]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col), F.col(op_col),
        *[F.col(c) for c in payload if c not in (version_col, *key_cols)],
    )
    ch = changes.withColumn("_next_v", F.lead(version_col).over(w))
    new_rows = ch.filter(F.col(op_col) == OP_UPSERT).select(
        *[c for c in payload if c != version_col],
        F.col(version_col).alias("valid_from"),
        F.col("_next_v").alias("valid_to"),
    )
    first_v = changes.groupBy(*key_cols).agg(
        F.min(version_col).alias("_first_v")
    )
    current = history.filter(F.col("valid_to").isNull()).alias("__scd_cur")
    first_a = first_v.alias("__scd_first")
    # null-safe, alias-disambiguated left join (see apply_changes):
    # null-keyed current rows must still close at their first incoming
    # change, and history/changes may share lineage
    cond = None
    for c in key_cols:
        e = F.col(f"__scd_cur.{c}").eqNullSafe(F.col(f"__scd_first.{c}"))
        cond = e if cond is None else (cond & e)
    closed_now = current.join(first_a, cond, "left").select(
        *[F.col(f"__scd_cur.{c}") for c in history.columns if c != "valid_to"],
        F.coalesce(
            F.col("__scd_first._first_v"), F.col("__scd_cur.valid_to")
        ).alias("valid_to"),
    ).select(*history.columns)
    was_closed = history.filter(F.col("valid_to").isNotNull())
    return was_closed.unionByName(closed_now).unionByName(
        new_rows.select(*history.columns)
    )


def affected_partition_values(
    changes: DataFrame,
    partition_col: str,
    key_cols: list[str],
    version_col: str = "version",
    op_col: str = "op",
) -> list:
    """Distinct partition values the delta touches — the bounded driver
    collect (one row per touched partition, NOT per change row) that lets
    the merge prune its snapshot read. Deletes count: removing a key
    rewrites its partition. Requires the partition column to be part of
    the key (else an update could move a row across partitions and the
    old partition would need a tombstone scan — that layout should merge
    unpartitioned)."""
    if partition_col not in key_cols:
        # ValueError, not assert: this contract violation leaves stale rows
        # in old partitions after an update moves a key across partitions —
        # it corrupts the merged snapshot rather than just flagging
        # programmer error, and must survive `python -O`.
        raise ValueError(
            f"partition column {partition_col!r} must be part of the merge "
            f"key {key_cols} (key-stable partitioning); an update could "
            "otherwise move a row across partitions and leave the old copy "
            "behind — merge unpartitioned instead"
        )
    return [
        r[0] for r in changes.select(partition_col).distinct().collect()
    ]


_STAGING_DIR = "_merge_staging"
_PENDING_MANIFEST = "_merge_pending.json"


def _partition_dir_names(
    spark: SparkSession,
    template: DataFrame,
    partition_col: str,
    values: list,
    render_type=None,
) -> list[str]:
    """The exact directory names Spark's writer produces for partition
    ``values`` — Spark's own cast-to-string rendering (one tiny local
    job: booleans render 'true', doubles '1.0E20', dates/timestamps via
    the session zone — python ``str()`` is NOT faithful for those) fed
    through ExternalCatalogUtils escaping (special characters, and the
    ``__HIVE_DEFAULT_PARTITION__`` null rendering). A raw f-string
    ``col=value`` path misses the real directory for any of these, so a
    takedown-delete would silently leave the stale files readable.

    ``values`` are typed by ``template``'s ``partition_col`` field;
    ``render_type`` (when given) is the type the WRITER renders under —
    values are cast template-type -> render_type -> string, so e.g. an
    int delta value renders '1.0' when the snapshot partitions by
    double."""
    from pyspark.sql.types import StructType

    if not values:
        return []
    field = template.schema[partition_col]
    sdf = local_table(spark, [(v,) for v in values], StructType([field]))
    col = F.col(partition_col)
    if render_type is not None:
        col = col.cast(render_type)
    rendered = [r[0] for r in sdf.select(col.cast("string")).collect()]
    ecu = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return [ecu.getPartitionPathString(partition_col, s) for s in rendered]


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def parquet_footer_count(spark: SparkSession, path: str) -> int | None:
    """Row count of a parquet directory from FILE FOOTER METADATA only
    (driver-side pyarrow reads, a few KB per file) — the WAP audit
    count without scheduling a second scan job (VERDICT r7/r6: the
    audit recount was a full re-read). Recurses through partition
    directories via the session's Hadoop FS listing; hidden/marker
    files (``_SUCCESS``, dotfiles) are skipped like any parquet reader
    skips them.

    Returns ``None`` when the footers can't be read from the driver
    (unreachable FS scheme for pyarrow, stray non-parquet file …) — the
    caller falls back to a ``count()`` job, which fails loudly on real
    corruption, so the audit signal is never silently weakened. Footer
    reads are I/O-bound and run on a thread pool; past
    ``max_driver_files`` files the distributed ``count()`` (itself
    footer-driven for an empty projection) beats driver-side reads, so
    ``None`` is returned and the caller's job takes over (review r8)."""
    max_driver_files = 4096
    try:
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        jvm, hfs = _fs(spark, path)
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        if not hfs.exists(jpath):
            return 0
        uris = []
        it = hfs.listFiles(jpath, True)
        while it.hasNext():
            st = it.next()
            p = st.getPath()
            name = p.getName()
            if not st.isFile() or name.startswith(("_", ".")):
                continue
            uris.append(p.toUri().toString())
            if len(uris) > max_driver_files:
                return None
        if not uris:
            return 0
        # one FS handle for all files (they share the dir's scheme)
        filesystem, first = pafs.FileSystem.from_uri(uris[0])
        prefix_len = len(uris[0]) - len(first)

        def one(uri: str) -> int:
            with filesystem.open_input_file(uri[prefix_len:]) as f:
                return pq.ParquetFile(f).metadata.num_rows

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(32, len(uris))) as pool:
            return sum(pool.map(one, uris))
    except Exception:
        return None


def write_json_atomic(
    spark: SparkSession, path: str, payload: dict, replace: bool = False
) -> None:
    """Single JSON file via write-temp-then-rename (the atomic unit the
    commit protocols here and in ``snapshots.py`` pivot on).
    ``replace=True`` renames OVER the existing destination in one FS
    operation (Hadoop ``FileContext`` with ``Options.Rename.OVERWRITE``
    — atomic on HDFS and POSIX local rename), so pointer swaps never
    expose a missing-file window to concurrent readers (ADVICE r8; the
    old delete-then-rename had one). ``replace=False`` assumes the
    destination is absent (manifests) and uses the plain FileSystem
    rename. On the rare FS whose FileContext lacks overwrite rename,
    falls back to delete-then-rename — readers cover that window by
    retrying once (``snapshots.py:_latest_version``)."""
    import json

    jvm, fs = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    tmp = Path(path + ".tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(json.dumps(payload).encode("utf-8")))
    out.close()
    dest = Path(path)
    if replace:
        try:
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                dest.toUri(), spark._jsc.hadoopConfiguration()
            )
            arr = spark.sparkContext._gateway.new_array(
                jvm.org.apache.hadoop.fs.Options.Rename, 1
            )
            arr[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            fc.rename(tmp, dest, arr)  # raises on failure (unlike fs.rename)
            return
        except Exception:
            if fs.exists(dest):
                fs.delete(dest, False)
    # Hadoop rename reports failure by RETURNING false, not raising — an
    # unchecked false here would leave no file on disk, and a later
    # crash mid-publish would be misclassified as a pre-commit orphan
    if not fs.rename(tmp, dest):
        raise IOError(f"atomic json rename failed: {tmp} -> {dest}")


def read_json_file(spark: SparkSession, path: str) -> dict | None:
    """Read one JSON metadata file through the Hadoop FS, or None when
    absent. Underscore-prefixed files are invisible to Spark reads (by
    design — snapshot reads must skip them), so this goes through a
    pure-JDK line reader on the Hadoop stream (py4j can't pass byte[]
    buffers by reference; readLine returns whole strings)."""
    import json

    jvm, fs = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(p), "UTF-8")
    )
    try:
        lines = []
        while True:
            line = reader.readLine()
            if line is None:
                break
            lines.append(line)
        return json.loads("\n".join(lines))
    finally:
        reader.close()


def _write_manifest(spark: SparkSession, snapshot_path: str, manifest: dict) -> None:
    write_json_atomic(spark, f"{snapshot_path}/{_PENDING_MANIFEST}", manifest)


def _read_manifest(spark: SparkSession, snapshot_path: str) -> dict | None:
    return read_json_file(spark, f"{snapshot_path}/{_PENDING_MANIFEST}")


def _publish_from_manifest(spark: SparkSession, snapshot_path: str, manifest: dict) -> None:
    """Idempotent roll-forward publish: for every touched partition, swap
    the staged directory into place (delete dest, rename staged). A
    partition whose staged dir is already gone was published before the
    crash — skipped. Fully-deleted partitions (touched, not surviving)
    have no staged dir and just lose their dest dir."""
    jvm, fs = _fs(spark, snapshot_path)
    Path = jvm.org.apache.hadoop.fs.Path
    staging = f"{snapshot_path}/{_STAGING_DIR}/{manifest['commit']}"
    surviving = set(manifest["surviving"])
    for dirname in manifest["touched"]:
        staged = Path(f"{staging}/{dirname}")
        dest = Path(f"{snapshot_path}/{dirname}")
        if dirname in surviving:
            if fs.exists(staged):
                if fs.exists(dest):
                    fs.delete(dest, True)
                # rename reports failure by RETURNING false (HDFS quota/
                # lease/racing-writer cases) — treating it as success
                # would delete the staging below and lose the partition
                if not fs.rename(staged, dest):
                    raise IOError(f"partition swap failed: {staged} -> {dest}")
            # staged gone + dest present => already published; nothing to do
        elif fs.exists(dest):
            fs.delete(dest, True)
    # commit complete: drop the manifest FIRST (the pivot), then ONLY this
    # commit's staging dir (not the root — another writer's staged data
    # may live beside it; see the single-writer note in
    # merge_into_partitioned)
    fs.delete(Path(f"{snapshot_path}/{_PENDING_MANIFEST}"), False)
    fs.delete(Path(staging), True)
    # drop the staging root too when this was the only commit in flight
    root = Path(f"{snapshot_path}/{_STAGING_DIR}")
    if fs.exists(root) and len(fs.listStatus(root)) == 0:
        fs.delete(root, False)


def recover_merge(spark: SparkSession, snapshot_path: str) -> str:
    """Recover a crashed :func:`merge_into_partitioned`:

    * pending manifest present → the staged data was fully written and
      audited before the manifest existed, so ROLL FORWARD: finish the
      idempotent publish; the snapshot lands at the post-merge state.
    * no manifest → any staging directory is a pre-commit orphan (the
      crash hit during the staged write); remove it — the live snapshot
      was never touched and stays at the prior version.

    Returns ``"rolled_forward"``, ``"cleaned_orphan"``, or ``"clean"``.
    """
    manifest = _read_manifest(spark, snapshot_path)
    if manifest is not None:
        _publish_from_manifest(spark, snapshot_path, manifest)
        return "rolled_forward"
    jvm, fs = _fs(spark, snapshot_path)
    staging_root = jvm.org.apache.hadoop.fs.Path(f"{snapshot_path}/{_STAGING_DIR}")
    if fs.exists(staging_root):
        fs.delete(staging_root, True)
        return "cleaned_orphan"
    return "clean"


def merge_into_partitioned(
    spark: SparkSession,
    snapshot_path: str,
    changes: DataFrame,
    key_cols: list[str],
    partition_col: str,
    version_col: str = "version",
    op_col: str = "op",
) -> list:
    """MERGE INTO a partitioned parquet snapshot, rewriting ONLY the
    partitions the delta touches, under a WRITE-AUDIT-PUBLISH commit
    (r6; the discipline streaming/state.py's versioned ``_SUCCESS``
    protocol applies, adapted to an in-place partition layout — VERDICT
    r5 item 5). Returns the touched partition values.

    Read side: the ``isin(touched)`` filter prunes to the affected
    partition directories (partition pruning — untouched data is never
    read or written).

    WRITE — the merged partitions go to a staging directory under the
    snapshot root (``_merge_staging/<commit>``), partitioned by the same
    column; the live snapshot is untouched while any data is in flight.
    AUDIT — the staged output is re-read and its row count checked
    against the merged plan's count; a short write (lost task, partial
    flush) aborts here with the snapshot still at the prior version.
    PUBLISH — a single manifest file (written temp-then-rename) is the
    commit pivot; after it exists the publish is a sequence of
    delete+rename directory swaps that :func:`recover_merge` can REPLAY
    idempotently, so a crash between partition swaps rolls FORWARD to
    the merged state instead of stranding a mix. A crash before the
    manifest leaves the prior snapshot fully intact (staging is an
    orphan, cleaned by recovery). Partition directory names go through
    Spark's own escaping (see :func:`_partition_dir_names`), so special
    characters and null partition values publish and delete correctly.

    Readers racing the publish window see partition swaps (same
    non-isolation plain parquet always had); readers needing snapshot
    isolation belong on the versioned-state layout (streaming/state.py).
    WRITERS are single-writer by contract (like any non-locking table
    layout): the pending-manifest guard catches a crashed predecessor,
    not a concurrent one.
    """
    import uuid

    touched = affected_partition_values(changes, partition_col, key_cols, version_col, op_col)
    if not touched:
        return touched
    if any(v == "" for v in touched):
        # Spark writes '' to __HIVE_DEFAULT_PARTITION__ and reads it back
        # as NULL — the value is not round-trippable through a partitioned
        # layout, so a merge keyed on it would fail to read the existing
        # rows and then overwrite their directory. Refuse instead.
        raise ValueError(
            "empty-string partition values are not round-trippable in "
            "partitioned parquet (written as __HIVE_DEFAULT_PARTITION__, "
            "read back as NULL) — normalize '' to NULL before merging"
        )
    pending = _read_manifest(spark, snapshot_path)
    if pending is not None:
        raise RuntimeError(
            f"unfinished merge commit {pending['commit']!r} pending at "
            f"{snapshot_path} — run recover_merge() first"
        )
    # NULL-safe prune: isin() never matches null (SQL semantics), so a null
    # partition value (__HIVE_DEFAULT_PARTITION__ on disk) needs its own arm
    non_null = [v for v in touched if v is not None]
    prune = F.col(partition_col).isin(non_null)
    if len(non_null) < len(touched):
        prune = prune | F.col(partition_col).isNull()
    snap = spark.read.parquet(snapshot_path).filter(prune)
    merged = apply_changes(
        snap, changes, key_cols, version_col, op_col
    ).localCheckpoint(eager=True)
    # Partition-rendering guard: the union inside apply_changes coerces
    # the partition column to the COMMON type of snapshot and delta, and
    # the staged directories are written under THAT type while the live
    # directories were written under the snapshot's. If the two types
    # render any touched value differently (int snapshot dirs 'part=1'
    # + double delta -> staged 'part=1.0'), the publish would plant new
    # directories BESIDE the live ones and double the data — refuse.
    # Type pairs whose renderings agree (boolean delta on a
    # string-inferred snapshot: both 'true') are fine.
    snap_ptype = snap.schema[partition_col].dataType
    merged_ptype = merged.schema[partition_col].dataType
    under_snap = _partition_dir_names(
        spark, changes, partition_col, touched, render_type=snap_ptype
    )
    if merged_ptype != snap_ptype:
        under_merged = _partition_dir_names(
            spark, changes, partition_col, touched, render_type=merged_ptype
        )
        if under_merged != under_snap:
            raise ValueError(
                f"delta partition column type "
                f"{changes.schema[partition_col].dataType.simpleString()} renders "
                f"partition directories differently than the snapshot's "
                f"{snap_ptype.simpleString()} ({under_merged} vs {under_snap}) — "
                "cast the delta's partition column to the snapshot's type "
                "before merging, or directory names diverge and duplicate data"
            )
    commit = uuid.uuid4().hex[:12]
    staging = f"{snapshot_path}/{_STAGING_DIR}/{commit}"
    try:
        surviving = {r[0] for r in merged.select(partition_col).distinct().collect()}
        # WRITE: stage the merged partitions next to the snapshot (same
        # filesystem, so publish renames are metadata moves)
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
        # AUDIT: the staged bytes, as a reader will see them — counted
        # from parquet footer metadata (no second scan job; falls back
        # to a count() job only if footers are driver-unreachable)
        n_expected = merged.count()
        if surviving:
            n_staged = parquet_footer_count(spark, staging)
            if n_staged is None:
                n_staged = spark.read.parquet(staging).count()
        else:
            n_staged = 0
        if n_staged != n_expected:
            raise RuntimeError(
                f"merge staging audit failed: staged {n_staged} rows, "
                f"expected {n_expected}; snapshot left at prior version"
            )
    except Exception:
        jvm, fs = _fs(spark, snapshot_path)
        fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)
        raise
    finally:
        # the staged merge blocks die with the call (no-cached-blocks standard)
        merged._jdf.queryExecution().analyzed().rdd().unpersist(False)
    manifest = {
        "commit": commit,
        "partition_col": partition_col,
        # touched rendered above (under_snap); surviving values come from
        # `merged` and render under the same snapshot partition type (the
        # type the live directory names are written in)
        "touched": under_snap,
        "surviving": _partition_dir_names(
            spark, merged, partition_col, sorted(surviving, key=str),
            render_type=snap_ptype,
        ),
    }
    _write_manifest(spark, snapshot_path, manifest)
    _publish_from_manifest(spark, snapshot_path, manifest)
    return touched
