"""Streaming CDC apply: a continuously-maintained latest-wins
materialized view over a change stream.

The streaming face of ``operators.merge.apply_changes`` — the batch
KTable semantics (SURVEY.md §2.3 A6, "latest value per key") upgraded to
full CDC verbs: versioned upserts AND deletes, maintained incrementally
per micro-batch instead of recomputed. The reference gets this from
Kafka Streams' changelog-backed KTables; here the table is versioned
parquet with the engine's shared commit protocol (streaming/state.py),
so any engine can read the view between batches.

Out-of-order safety ACROSS batches: the state keeps each key's winning
change — including DELETE TOMBSTONES and the version that won — so a
stale update arriving ten batches late still loses to the version
comparison instead of resurrecting dead keys or overwriting newer data
(the Kafka log-compaction tombstone-retention insight; here tombstones
are retained indefinitely — state is bounded by distinct keys ever
seen, the same bound a compacted topic has).

Exactly-once under foreachBatch through the versioned-state driver in
``streaming/state.py``, whose module docstring describes the protocol
(commit marker, redelivery, checkpoint binding, retention). Per-batch I/O
is one state read + one state write (state = one row per key ever seen —
the compacted form, NOT the corpus); at 100 TB-of-changes scale the state
stays key-bounded, and the heavy lifting (latest_changes) is one partial+
final max_by aggregate per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import OP_UPSERT, latest_changes
from .state import StateLayout, read_latest_state, run_versioned_state

_CDC = StateLayout("CDC", "state_v", "CDC state")


def read_cdc_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current materialized view: live rows only (tombstones and the
    bookkeeping columns stripped). Raises if no batch ever committed."""
    state, _ = read_latest_state(spark, state_dir, _CDC)
    return state.filter(F.col("_op") == OP_UPSERT).drop("_op")


def streaming_apply_changes(
    changes_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    version_col: str = "version",
    op_col: str = "op",
    tombstone_min_version=None,
):
    """Maintain the latest-wins view of ``changes_stream`` at
    ``state_dir``; returns the started query (availableNow trigger).

    Each micro-batch: prior state rows re-enter the latest-wins
    reduction AS CHANGES (their winning version rides with them), union
    the batch's changes, and one ``latest_changes`` max_by aggregate
    picks each key's new winner — upsert or tombstone. The view readers
    see (``read_cdc_view``) is the upsert slice.

    ``tombstone_min_version``: optional compaction watermark — tombstones
    whose winning version is BELOW it are dropped from the new state
    (Kafka log-compaction's ``delete.retention`` semantics, version-
    not time-keyed). The caller asserts no change older than the
    watermark can still arrive; a straggler older than a compacted
    tombstone would resurrect the key — that is the contract trade, and
    why the default retains tombstones forever. Compaction rides INSIDE
    the batch merge, so the versioned-commit protocol (state version =
    batch id) is untouched and crash-safe as before.
    """

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        # normalize the batch to state layout: op tucked into _op so the
        # payload column set matches the snapshot the view exposes
        changes = batch_df.withColumnRenamed(op_col, "_op")
        if prev is not None:
            changes = prev.unionByName(changes)
        state = latest_changes(
            changes, key_cols, version_col=version_col, op_col="_op"
        )
        if tombstone_min_version is None:
            return state
        return state.filter(
            ~(
                (F.col("_op") != OP_UPSERT)
                & (F.col(version_col) < F.lit(tombstone_min_version))
            )
        )

    return run_versioned_state(
        changes_stream, state_dir, checkpoint_dir, _CDC, merge
    )
