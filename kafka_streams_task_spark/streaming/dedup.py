"""Streaming deduplication: the ingest-time tier of the dedup family.

Batch dedup (operators/dedup.py) assumes the corpus is at rest; a 100 TB
pipeline ALSO needs dedup at ingest, where the same document arrives many
times (re-crawls, retries, replayed topics). Two shapes:

  streaming_dedup_exact      — unbounded exact dedup on a content digest.
      State grows with distinct keys forever; correct when the key space is
      bounded (e.g. url) or the job is periodically rebootstrapped.

  streaming_dedup_watermarked — dedup within an event-time watermark via
      ``dropDuplicatesWithinWatermark``: duplicates arriving within the
      delay window collapse; state is evicted once the watermark passes,
      so state size is bounded by (arrival rate x delay) regardless of
      corpus size — the only formulation that survives an unbounded crawl.

Both keep the digest trick from the batch tier: state stores a 16-byte md5
digest, never document text, so the state store carries ~32 bytes/doc no
matter how large documents are.

Reference parity: the reference engine keys streams and relies on
Kafka-Streams KTable upsert semantics for "latest wins" (MyStream.java:
166-173 — see operators.weather.latest_per_key); an explicit first-wins dedup
operator does not exist there. Beyond-reference training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_digest(stream: DataFrame, text_col: str) -> DataFrame:
    return stream.withColumn("_digest", F.md5(F.col(text_col)))


def streaming_dedup_exact(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """First-seen-wins exact dedup over the whole stream lifetime.

    State: one md5 digest per distinct document ever seen (unbounded —
    gate behind a bounded key domain or scheduled state resets).
    """
    return _with_digest(stream, text_col).dropDuplicates(["_digest"]).drop("_digest")


def streaming_dedup_watermarked(
    stream: DataFrame,
    time_col: str,
    delay: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """First-seen-wins exact dedup within an event-time watermark window.

    A duplicate arriving more than ``delay`` after the original's event
    time may be re-emitted (its state was evicted) — the deliberate trade
    that keeps state bounded by (rate x delay). Downstream batch dedup
    (dedup_exact over the landed corpus) catches stragglers; this tier
    exists to stop the 99% duplicate mass from ever landing.
    """
    return (
        _with_digest(stream, text_col)
        .withWatermark(time_col, delay)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def _index_dedup_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str,
    keep_cols: list,
    prefix: str,
    state_fn,
    pairs_fn,
    compact_every: int | None = None,
):
    """The exactly-once commit choreography of the index-backed
    streaming dedup (:func:`streaming_dedup_near`).

    Per micro-batch: redelivery skip on the committed-shard set →
    pin the batch and its ``state_fn`` output (the bands) → probe
    ``pairs_fn(new_state, committed index)`` for flagged
    ``(id_a, id_b, a_is_new, b_is_new)`` candidates with ``id_a < id_b``
    → drop policy (drop the new side of mixed pairs, ``id_b`` of
    both-new pairs, so the smaller id survives) → ALSO drop ids already
    committed to the index (ingest ids are unique: a re-crawl of the
    SAME id is a no-op, and changed content under one id is an update
    for the merge tier, not an ingest insert) → kept FIRST (overwrite:
    redelivery-idempotent), then the batch's append-only state shard.

    ``compact_every=K`` merges the committed shards into one compact
    root (``state.compact_index_shards``) whenever K live shards have
    accumulated, bounding the per-batch index read at 1 root + <K
    shards. Without it every batch reads one parquet root PER
    ever-committed batch — listing and scan setup grow linearly, O(N²)
    cumulative over a long-lived stream (advice r9) — acceptable only
    for scheduled availableNow runs with few batches per run.
    """
    from .state import (
        bind_state_to_checkpoint,
        committed_index_state,
        compact_index_shards,
        drain_batch,
    )

    bind_state_to_checkpoint(stream.sparkSession, index_dir, checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        compact_path, hi, versions = committed_index_state(
            spark, index_dir, prefix
        )
        if batch_id <= hi or batch_id in versions:
            # redelivery: kept output + shard for this batch are durable
            drain_batch(batch_df)
            return

        batch = batch_df.select(*keep_cols).localCheckpoint(eager=True)
        new_state = state_fn(batch).localCheckpoint(eager=True)
        roots = ([compact_path] if compact_path else []) + [
            f"{index_dir}/{prefix}{v}" for v in versions
        ]
        if roots:
            index = spark.read.parquet(*roots)
        else:
            # id-type-agnostic empty bootstrap (string ids etc. work)
            index = new_state.limit(0)
        pairs = pairs_fn(new_state, index).localCheckpoint(eager=True)
        drop_old = pairs.filter(
            F.col("a_is_new") != F.col("b_is_new")
        ).select(
            F.when(F.col("a_is_new"), F.col("id_a")).otherwise(F.col("id_b")).alias(id_col)
        )
        drop_new = pairs.filter(
            F.col("a_is_new") & F.col("b_is_new")
        ).select(F.col("id_b").alias(id_col))
        already = batch.select(id_col).join(
            index.select(id_col).distinct(), on=id_col, how="left_semi"
        )
        kept = batch.join(
            drop_old.unionByName(drop_new).unionByName(already).distinct(),
            on=id_col,
            how="left_anti",
        ).localCheckpoint(eager=True)

        # kept FIRST (overwrite: redelivery-idempotent), then the shard
        kept.write.mode("overwrite").parquet(f"{index_dir}/kept/batch_id={batch_id}")
        new_state.join(kept.select(id_col), on=id_col, how="left_semi").write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/{prefix}{batch_id}")
        # compaction AFTER this batch's shard commit: a crash anywhere
        # in it leaves the committed view intact (publish-then-cleanup)
        if compact_every and len(versions) + 1 >= compact_every:
            compact_index_shards(spark, index_dir, prefix)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_near(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    seed: int = 42,
    compact_every: int | None = 32,
):
    """Ingest-time NEAR-duplicate dedup: each micro-batch is deduped
    against a durable MinHash-LSH band index
    (``operators.dedup.minhash_band_table`` layout) and the survivors'
    bands join the index — the streaming face of
    ``minhash_lsh_candidates_incremental``, for pipelines where re-crawled
    near-copies must be stopped at the boundary rather than at the next
    batch dedup run.

    Drop policy (deterministic, conservative): a document is dropped when
    it LSH-pairs with any already-indexed document, with a smaller-id
    document of the same batch, or when its ID is already committed to
    the index (ingest ids are unique: a re-crawled id is a no-op, and
    changed content under one id is a CDC update for the merge tier). Chains within one batch may over-drop
    relative to the batch path's transitive-survivor semantics — at
    ingest, over-dropping near-duplicates is the safe direction, and the
    at-rest corpus can always re-run the exact batch operator.

    Exactly-once under foreachBatch's at-least-once contract, via
    APPEND-ONLY per-batch index shards (the versioned-state family of
    ``decoupled.rollup_via_foreach_batch``, adapted so per-batch WRITE I/O is
    shard-sized — a 100 TB index is never rewritten): the live index is
    the union of committed (``_SUCCESS``-marked) ``bands_v{N}`` shards,
    each holding only batch N's surviving bands. A batch writes its kept
    docs FIRST (``kept/batch_id={N}``, overwrite-idempotent), then its
    shard; a redelivered batch whose shard is committed skips wholesale,
    and a crash between the two writes recomputes both from the
    still-unchanged committed shard set. Uncommitted (crashed) shards
    are never read — the index is assembled from explicit committed
    paths, not directory globbing.

    The index directory is BOUND to its checkpoint directory for life
    (``state.bind_state_to_checkpoint``): redelivery detection keys on
    the checkpoint's batch_id sequence, so feeding an existing index from
    a fresh checkpoint (whose batch ids restart at 0) would silently
    mistake real batches for redeliveries — that misuse now raises up
    front instead. Per-batch WRITE I/O is shard-sized (the index is
    never rewritten); the probe read scans the committed shards (parquet
    min/max and Spark's runtime bloom-filter join prune what they can —
    an exact O(shard) probe is not expressible because the hit set is
    only known at runtime).

    Returns the StreamingQuery. Kept documents accumulate under
    ``{index_dir}/kept/batch_id={N}``; the live index is the union of
    committed ``{index_dir}/bands_v{N}`` shards (the
    ``minhash_band_table`` layout, reusable by batch
    ``minhash_lsh_candidates_incremental`` runs); every
    ``compact_every`` committed shards (default 32; None disables) the
    shards merge into one ``bands_vcompact_{N}`` root so per-batch index
    reads stay bounded over a long-lived stream.
    """
    from ..operators.dedup import incremental_pairs_from_bands, minhash_band_table

    return _index_dedup_stream(
        stream,
        index_dir,
        checkpoint_dir,
        id_col=id_col,
        keep_cols=[id_col, text_col],
        prefix="bands_v",
        state_fn=lambda batch: minhash_band_table(
            batch, text_col, id_col, num_hashes, bands,
            shingle_n=shingle_n, seed=seed,
        ),
        pairs_fn=lambda new_bands, index: incremental_pairs_from_bands(
            new_bands, index, id_col=id_col, max_bucket=max_bucket
        ),
        compact_every=compact_every,
    )
