"""Versioned corpus snapshots (r7) — reproducible training sets as
plain parquet + a tiny manifest layer (the Iceberg/Delta *concept*,
vendored minimally: no table-format dependency exists in this
environment, and a training pipeline needs exactly four verbs —
append, overwrite, read-at-version, rollback).

Why a corpus operator: "which rows trained model X" must stay
answerable months later, while the corpus keeps ingesting. Overwriting
parquet in place destroys that; copying the corpus per experiment is
absurd at 100 TB. Versioning by MANIFEST makes each version a list of
immutable data directories, so an append reuses every prior byte and a
version read is just ``spark.read.parquet(*dirs)`` — partition pruning,
pushdown, and codegen all apply unchanged.

Layout under the table root::

    data/v00001/part-*.parquet     -- immutable once its version commits
    data/v00002/part-*.parquet
    _versions/v00001.json          -- {"version", "op", "dirs", "n_rows"}
    _latest                        -- {"version": N}   (the atomic pivot)

Commit protocol (single writer, same discipline as
``merge_into_partitioned``'s WAP): data directory first, then the
version manifest, then the ``_latest`` pointer via write-temp +
atomic-rename. A crash before the pointer swap leaves an orphan data
dir + manifest that no reader can see; the next successful write simply
claims the next version number past any manifest on disk (orphans never
resurrect because readers resolve versions through manifests reachable
from ``_latest``-or-below only... in fact through explicit version
numbers, and an orphan's number is re-used only after
:func:`snapshot_vacuum` removes it — until then it is skipped).
Underscore-prefixed names are invisible to Spark's parquet reader by
design, so the metadata never pollutes a naive ``read.parquet(root)``.

Reference provenance: no analogue in idavkaev/kafka-streams-task; part
of the 100 TB training-data-pipeline extension surface (SURVEY.md).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import local_table
from .merge import _fs, parquet_footer_count, read_json_file, write_json_atomic

_VERSIONS_DIR = "_versions"
_LATEST = "_latest"


def _vname(version: int) -> str:
    return f"v{version:05d}"


def _latest_version(spark: SparkSession, path: str) -> int:
    latest = read_json_file(spark, f"{path}/{_LATEST}")
    if latest is None:
        # the pointer swap is an atomic overwrite-rename on HDFS/local,
        # but on an FS without FileContext overwrite support the writer
        # falls back to delete-then-rename — retry once over that
        # window. ONLY when version manifests exist though: a missing
        # pointer on a fresh table is the NORMAL state, and sleeping
        # there taxes every first commit (review r8).
        jvm, fs = _fs(spark, path)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{_VERSIONS_DIR}")):
            import time

            time.sleep(0.05)
            latest = read_json_file(spark, f"{path}/{_LATEST}")
    return int(latest["version"]) if latest else 0


def _manifest(spark: SparkSession, path: str, version: int) -> dict:
    m = read_json_file(spark, f"{path}/{_VERSIONS_DIR}/{_vname(version)}.json")
    if m is None:
        raise ValueError(
            f"snapshot version {version} does not exist at {path} "
            f"(latest committed: {_latest_version(spark, path)})"
        )
    return m


def _next_free_version(spark: SparkSession, path: str) -> int:
    """First version number with no manifest on disk — skips both
    committed versions AND pre-pointer orphans from crashed writes (an
    orphan's manifest exists; reusing its number would resurrect its
    data into the new version's read set)."""
    jvm, fs = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    n = _latest_version(spark, path)
    while fs.exists(Path(f"{path}/{_VERSIONS_DIR}/{_vname(n + 1)}.json")):
        n += 1
    return n + 1


def snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "append",
    audit: bool = True,
    expectations: dict | None = None,
    unique_keys: dict | None = None,
    tag: str | None = None,
) -> int:
    """Commit ``df`` as the next version of the snapshot table at
    ``path``; returns the new version number.

    ``append`` makes the new version = every parent data dir + one new
    dir holding only ``df``'s rows (prior bytes are REUSED, never
    copied); ``overwrite`` starts the version from just the new dir
    (prior versions stay readable — nothing is deleted until
    :func:`snapshot_vacuum`). ``audit=True`` records the new dir's
    durable row count (parquet footer metadata of the just-written
    files — the WAP audit discipline without a second scan job) plus
    the version's total for :func:`snapshot_versions`.

    ``expectations`` / ``unique_keys`` (r8) gate the commit on data
    quality, Deequ/Delta-constraint style: the rules run over the
    JUST-WRITTEN staged directory (the durable bytes, never the input
    plan — WAP discipline), and ANY violation deletes the staged dir
    and raises with the per-rule violation counts; no manifest, no
    pointer move, readers keep seeing the prior version. Rule shapes
    are :func:`..expectations.expectation_report`'s (predicate rules
    fuse into one aggregate pass; each uniqueness rule is one exact
    distinct count). Uniqueness is TABLE-level: in ``append`` mode a
    rule refuses the commit when the staged increment has internal
    duplicates OR re-inserts a key already committed in the parent
    version (ADVICE r8). The cross-version check is a null-safe
    left-semi probe of the parent's KEY COLUMNS against the staged
    distinct keys (review r9): column pruning reaches the parquet scan
    and AQE broadcasts the (typically small) staged key set, so the
    parent side usually never shuffles — and pre-existing duplicates
    INSIDE the parent (committed
    through an ungated path) do not wedge every later append the way a
    whole-table distinct count would; they are the parent commit's
    defect, surfaced by a snapshot_diff/audit, not by refusing
    unrelated increments forever. Predicate rules stay staged-only:
    they are row-local and parent rows passed them at their own commit.

    ``tag`` (r9) stamps an idempotence key into the version manifest —
    because the manifest IS the atomic commit marker, a foreachBatch
    sink can make at-least-once redelivery exactly-once: skip the write
    when :func:`committed_tag_version` already finds the batch's tag on
    a COMMITTED version (see ``streaming/state.py``).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
    version = _next_free_version(spark, path)
    new_dir = f"data/{_vname(version)}"
    # a data dir with no manifest is a pre-manifest orphan (crash during
    # the staged write) — reclaim it; mode="error" then still guards
    # against concurrent writers racing for the same version number
    jvm, fs = _fs(spark, path)
    orphan = jvm.org.apache.hadoop.fs.Path(f"{path}/{new_dir}")
    if fs.exists(orphan):
        fs.delete(orphan, True)
    df.write.mode("error").parquet(f"{path}/{new_dir}")
    # appends build on the COMMITTED latest, if any — testing the new
    # version number instead would wedge the table after a crash on the
    # first commit (orphan v1 manifest, _latest still 0, next free 2)
    parent_version = _latest_version(spark, path)
    if expectations or unique_keys:
        from .expectations import expectation_report

        staged = spark.read.parquet(f"{path}/{new_dir}")
        failing = []
        if expectations:
            failing += [
                (r["rule"], r["n_violations"])
                for r in expectation_report(staged, expectations).collect()
                if not r["pass"]
            ]
        if unique_keys:
            # staged-internal duplicates: one distinct count per rule
            failing += [
                (r["rule"], r["n_violations"])
                for r in expectation_report(staged, {}, unique_keys).collect()
                if not r["pass"]
            ]
            if mode == "append" and parent_version >= 1:
                # cross-version re-inserts (see docstring): null-safe
                # semi-probe of the parent's key columns against the
                # staged key set — key-pruned scan, broadcast probe
                dirs = _manifest(spark, path, parent_version)["dirs"]
                parent = spark.read.parquet(*[f"{path}/{d}" for d in dirs])
                for name, cols in unique_keys.items():
                    probe = staged.select(*cols).distinct().alias("s")
                    p = parent.select(*cols).alias("p")
                    cond = None
                    for k in cols:
                        c = F.col(f"p.{k}").eqNullSafe(F.col(f"s.{k}"))
                        cond = c if cond is None else (cond & c)
                    # no broadcast hint: a giant increment's key set
                    # must not be forced through the driver — AQE
                    # broadcasts the (typical) small probe on its own
                    n = p.join(probe, cond, "left_semi").count()
                    if n:
                        failing.append((f"{name} (committed-key re-insert)", n))
        if failing:
            fs.delete(orphan, True)  # reclaim; version number reusable
            raise ValueError(
                f"snapshot commit refused — expectations failed on the "
                f"staged data: {failing}; table left at version "
                f"{_latest_version(spark, path)}"
            )
    # audit from parquet footer metadata — the durable count a reader's
    # scan planning sees, without a second scan job (VERDICT r7)
    if audit:
        n_new = parquet_footer_count(spark, f"{path}/{new_dir}")
        if n_new is None:
            n_new = spark.read.parquet(f"{path}/{new_dir}").count()
    else:
        n_new = None

    if mode == "append" and parent_version >= 1:
        parent = _manifest(spark, path, parent_version)
        dirs = list(parent["dirs"]) + [new_dir]
        n_rows = (
            parent["n_rows"] + n_new
            if audit and parent.get("n_rows") is not None and n_new is not None
            else None
        )
    else:
        dirs = [new_dir]
        n_rows = n_new
    manifest = {
        "version": version,
        "op": mode,
        "dirs": dirs,
        "n_rows": n_rows,
        "committed_at": time.time(),
        # committed-lineage pointer (r11): the version that was _latest
        # when this write started — 0 on a fresh table. Orphan manifests
        # from pre-pointer crashes occupy version NUMBERS but are never
        # anyone's parent, so walking parent pointers from _latest
        # yields exactly the committed lineage (snapshot_versions, the
        # streaming drift predecessor). Absent in pre-r11 manifests;
        # readers fall back to version-minus-one stepping.
        "parent": parent_version,
    }
    if tag is not None:
        manifest["tag"] = tag
    write_json_atomic(
        spark, f"{path}/{_VERSIONS_DIR}/{_vname(version)}.json", manifest, replace=True
    )
    # the pivot: readers see the version only after this rename lands
    write_json_atomic(spark, f"{path}/{_LATEST}", {"version": version}, replace=True)
    return version


def committed_tag_version(
    spark: SparkSession, path: str, tag: str, deep: bool = True
) -> int | None:
    """The version on the COMMITTED LINEAGE stamped with ``tag``, or
    None: the redelivery probe of exactly-once foreachBatch snapshot
    sinks. A crash AFTER the pointer move left the tag visible (skip the
    redelivered batch); a crash BEFORE it left an orphan (rewrite is
    correct). The walk follows the parent-pointer
    lineage (:func:`committed_lineage`), never raw version numbers — a
    TAGGED ORPHAN manifest sitting below a later commit would otherwise
    satisfy the probe and the redelivered batch's rows would be lost.

    ``deep`` walks every committed version (KB-sized manifest reads, no
    data scan). Otherwise only the newest tagged version counts: a few
    manifest reads, enough for a SEQUENTIAL tagged writer (one
    foreachBatch stream) whose batch ids are monotonic and whose tags no
    other tagged writer interleaves (a deep walk per batch sums to
    O(N²) manifest reads over a stream's life)."""
    for m in _lineage_iter(spark, path):
        if m.get("tag") == tag:
            return int(m["version"])
        if not deep and m.get("tag") is not None:
            return None
    return None


def snapshot_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the snapshot at ``version`` (default: latest committed).
    Plain ``spark.read.parquet`` over the version's immutable data
    dirs — pruning/pushdown apply as on any parquet table. Schema is
    the parquet default (first-file wins); corpora that evolve schemas
    across versions should read with ``mergeSchema`` themselves."""
    if version is None:
        version = _latest_version(spark, path)
        if version == 0:
            raise ValueError(f"no committed snapshot versions at {path}")
    m = _manifest(spark, path, version)
    return spark.read.parquet(*[f"{path}/{d}" for d in m["dirs"]])


def committed_lineage(spark: SparkSession, path: str) -> list[dict]:
    """Manifests of the COMMITTED lineage, ascending — the parent-chain
    walk from ``_latest`` (r11, review catch): a pre-pointer crash
    leaves an orphan manifest whose version number is never reused
    (``_next_free_version``) and never re-pointed, so plain
    ``range(1, latest+1)`` enumeration wrongly includes it. Rolled-
    back-over versions are likewise off the lineage (git semantics —
    readable by explicit number, prunable by vacuum, not listed).

    Walk rules (second-review hardening):
    - a parent pointer must be STRICTLY below its version (parents are
      assigned from ``_latest`` at write time) — a corrupt/hand-edited
      manifest raises instead of looping forever;
    - a parent pointer landing on a MISSING manifest means everything
      below was vacuumed (vacuum deletes contiguously from v1) — the
      walk stops, never paying O(vacuumed-range) filesystem probes;
    - manifests without a ``parent`` field (pre-r11) step version-
      minus-one through holes — the old behavior, on old tables only."""
    out = list(_lineage_iter(spark, path))
    out.reverse()
    return out


def _lineage_iter(spark: SparkSession, path: str):
    """Lazy newest-first walk of the committed lineage — the tag probes
    consume only as far as they need (the shortcut of
    :func:`committed_tag_version` stays O(distance-to-first-tag)
    manifest reads per steady-state batch)."""
    v = _latest_version(spark, path)
    via_pointer = False
    while v >= 1:
        m = read_json_file(spark, f"{path}/{_VERSIONS_DIR}/{_vname(v)}.json")
        if m is None:
            if via_pointer:
                return  # pointer target vacuumed: nothing committed below
            v -= 1
            continue
        yield m
        p = m.get("parent")
        if p is None:
            v -= 1
            via_pointer = False
        else:
            p = int(p)
            if p >= v:
                raise ValueError(
                    f"corrupt snapshot manifest {_vname(v)} at {path}: "
                    f"parent {p} must be < version {v}"
                )
            v = p
            via_pointer = True


def snapshot_versions(spark: SparkSession, path: str) -> DataFrame:
    """One row per version on the CURRENT COMMITTED LINEAGE (manifest
    metadata). Orphans from crashed writes and versions abandoned by a
    rollback-then-write are excluded — git semantics: they stay
    readable by explicit number (:func:`snapshot_read`) and prunable
    by :func:`snapshot_vacuum`, but they are not history of the table
    readers currently see."""
    latest = _latest_version(spark, path)
    rows = [
        (
            int(m["version"]),
            m["op"],
            len(m["dirs"]),
            m.get("n_rows"),
            float(m["committed_at"]),
            int(m["version"]) == latest,
        )
        for m in committed_lineage(spark, path)
    ]
    return local_table(
        spark,
        rows,
        "version int, op string, n_dirs int, n_rows long, committed_at double, is_latest boolean",
    )


def snapshot_rollback(spark: SparkSession, path: str, version: int) -> int:
    """Point ``_latest`` back at an earlier committed version (O(1) —
    one pointer rename; no data moves). Later versions stay on disk and
    readable by explicit number until a subsequent write claims past
    them or :func:`snapshot_vacuum` trims — but once a post-rollback
    write commits, they leave the committed lineage and thus the
    :func:`snapshot_versions` listing (the new write's ``parent`` is
    the rollback target)."""
    _manifest(spark, path, version)  # existence check
    latest = _latest_version(spark, path)
    if version > latest:
        raise ValueError(f"cannot roll forward to {version} (latest {latest})")
    write_json_atomic(spark, f"{path}/{_LATEST}", {"version": version}, replace=True)
    return version


def snapshot_vacuum(spark: SparkSession, path: str, keep_last: int = 1) -> int:
    """Drop versions older than the ``keep_last`` most recent (counted
    back from the CURRENT ``_latest``, so a rollback protects its
    target), plus any orphaned manifests/dirs beyond ``_latest``.
    Deletes only data dirs no surviving version references. Returns the
    number of versions removed."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    jvm, fs = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    latest = _latest_version(spark, path)
    if latest == 0:
        return 0
    cutoff = max(1, latest - keep_last + 1)
    keep_dirs: set[str] = set()
    for v in range(cutoff, latest + 1):
        keep_dirs.update(_manifest(spark, path, v)["dirs"])
    removed = 0
    drop = list(range(1, cutoff))
    # orphans past latest (crashed pre-pointer writes) go too
    v = latest
    while fs.exists(Path(f"{path}/{_VERSIONS_DIR}/{_vname(v + 1)}.json")):
        drop.append(v + 1)
        v += 1
    for dv in drop:
        m = read_json_file(spark, f"{path}/{_VERSIONS_DIR}/{_vname(dv)}.json")
        if m is None:
            continue
        for d in m["dirs"]:
            if d not in keep_dirs:
                fs.delete(Path(f"{path}/{d}"), True)
        fs.delete(Path(f"{path}/{_VERSIONS_DIR}/{_vname(dv)}.json"), False)
        removed += 1
    return removed


def snapshot_compact(
    spark: SparkSession, path: str, target_mb: int = 512
) -> int:
    """Maintenance verb for append-heavy tables: every append adds a
    data dir, so version N reads N directory listings and accumulates
    the small-files pathology ``layout.compact_small_files`` exists
    for. This rewrites the CURRENT version into one dir of
    ~``target_mb`` files and commits it as a new ``overwrite`` version —
    history stays intact (old versions remain readable until
    :func:`snapshot_vacuum`), readers never see a partial state (same
    commit pivot as any write), and the file count comes from the
    actual on-disk bytes of the current version's dirs, no data read.
    Returns the new version number."""
    from .layout import target_file_count

    latest = _latest_version(spark, path)
    if latest == 0:
        raise ValueError(f"no committed snapshot versions at {path}")
    m = _manifest(spark, path, latest)
    jvm, fs = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    total = sum(
        fs.getContentSummary(Path(f"{path}/{d}")).getLength() for d in m["dirs"]
    )
    n = target_file_count(int(total), target_mb)
    df = snapshot_read(spark, path, latest).repartition(n)
    return snapshot_write(spark, df, path, mode="overwrite")


def snapshot_diff(
    spark: SparkSession,
    path: str,
    version_from: int,
    version_to: int,
    key_cols: tuple[str, ...] | list[str],
) -> DataFrame:
    """Row-level difference between two committed versions of a snapshot
    table: one row per changed key with ``change`` in
    ``('added', 'removed', 'updated')`` — the corpus-governance answer
    to "what did this ingest/compaction/rollback actually do" without
    re-reading either version into a driver-side comparison.

    Spark-first shape: both versions are plain parquet scans
    (:func:`snapshot_read`); non-key columns collapse to one
    ``xxhash64`` fingerprint per row BEFORE the join, so the shuffle
    carries (key, hash) only — at 100 TB the diff moves ids and 8-byte
    hashes, never payload text. A full-outer join on the key then
    classifies:

    * key only in ``version_to``   -> 'added'
    * key only in ``version_from`` -> 'removed'
    * key in both, hash differs    -> 'updated'
    * key in both, hash equal      -> dropped (unchanged)

    Append-only version pairs (the common case: ``version_to`` =
    ``version_from`` + one ingest) short-circuit nothing but produce
    pure 'added' rows, and because APPEND versions share parent data
    DIRS, the unchanged mass joins hash-equal and drops. Duplicate keys
    within a version are aggregated to (count, combined hash) first, so
    multiplicity changes surface as 'updated' instead of exploding the
    join.
    """
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    key_cols = list(key_cols)
    reserved = {
        "_rh", "_n", "_h1", "_h2", "_na", "_ha1", "_ha2",
        "_nb", "_hb1", "_hb2", "change",
    }
    clash = sorted(reserved & set(key_cols))
    if clash:
        raise ValueError(f"key_cols clash with diff working columns: {clash!r}")

    def fingerprinted(version: int) -> DataFrame:
        df = snapshot_read(spark, path, version)
        # same discipline as the PSL/shards clash guards (review r8):
        # a data column named '_rh' would be silently REPLACED by the
        # fingerprint (other reserved names are aggregated away and
        # only collide when used as keys — guarded above)
        if "_rh" in df.columns:
            raise ValueError(
                "snapshot has a '_rh' column, which clashes with the "
                "diff's row-fingerprint working column"
            )
        others = [c for c in df.columns if c not in key_cols]
        # NULL-ness hashes as its own input per column: coalescing NULL
        # to a sentinel string alone would make NULL ≡ that literal (and
        # any two values with identical string casts) — ADVICE r8
        inputs = [
            x
            for c in others
            for x in (
                F.isnull(F.col(c)).cast("int"),
                F.coalesce(F.col(c).cast("string"), F.lit("")),
            )
        ]
        row_hash = F.xxhash64(*inputs) if others else F.lit(0).cast("long")
        # order-independent combine over duplicate keys; the re-hash
        # with a salt breaks additive structure, so two changed rows
        # can't cancel (e.g. swaps that preserve the plain sum of raw
        # hashes) — ADVICE r8. Summed as two 32-bit halves: each
        # summand < 2^32, so the long sum cannot overflow under ANSI
        # until 2^31 rows share one key.
        salted = F.xxhash64(row_hash, F.lit("snapdiff"))
        return (
            df.withColumn("_rh", salted)
            .groupBy(*key_cols)
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.shiftrightunsigned(F.col("_rh"), 32)).alias("_h1"),
                F.sum(F.col("_rh").bitwiseAND(F.lit(0xFFFFFFFF))).alias("_h2"),
            )
        )

    a = fingerprinted(version_from).select(
        *key_cols, F.col("_n").alias("_na"),
        F.col("_h1").alias("_ha1"), F.col("_h2").alias("_ha2"),
    ).alias("a")
    b = fingerprinted(version_to).select(
        *key_cols, F.col("_n").alias("_nb"),
        F.col("_h1").alias("_hb1"), F.col("_h2").alias("_hb2"),
    ).alias("b")
    # null-safe key equality: a plain on=key_cols join never matches
    # NULL keys, so a null-keyed group would surface as a spurious
    # added+removed pair instead of matching itself. eqNullSafe still
    # compiles to a hash join (coalesce/isnull key rewrite).
    cond = None
    for k in key_cols:
        c = F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
        cond = c if cond is None else (cond & c)
    joined = a.join(b, cond, "full_outer")
    return (
        joined.withColumn(
            "change",
            F.when(F.col("_na").isNull(), F.lit("added"))
            .when(F.col("_nb").isNull(), F.lit("removed"))
            .when(
                (F.col("_na") != F.col("_nb"))
                | (F.col("_ha1") != F.col("_hb1"))
                | (F.col("_ha2") != F.col("_hb2")),
                F.lit("updated"),
            ),
        )
        .filter(F.col("change").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k)
                for k in key_cols
            ],
            "change",
        )
    )
