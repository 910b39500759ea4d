"""Streaming ingest into a persisted IVF-PQ index: the always-on half
of the build-once/query-many ANN story.

``operators.similarity.build_ivfpq_index`` builds the nightly index;
``append_to_ivfpq_index`` ingests batch deltas. What neither covers is a
STREAM of new vectors under foreachBatch's at-least-once contract: a
blind parquet append is not idempotent — a redelivered micro-batch would
double-insert its vectors, and duplicate index rows silently skew every
downstream k-NN (the duplicate occupies a shortlist slot). This module
ingests exactly-once via the family's versioned-shard protocol
(``streaming/state.py``, the ``streaming_dedup_near`` pattern): batch N
encodes its vectors with the FROZEN persisted model (the same one
Arrow-stage encode the batch appender uses) and writes them as a
``codes_v{N}`` shard published by ``_SUCCESS``; a redelivered batch
whose shard is committed skips wholesale; ``compact_every=K`` folds
committed shards into one compact root so a long-lived stream's index
read stays bounded instead of one root per ever-committed batch (the
r9 O(N^2) listing lesson). Because the search here is an EXTERNAL
reader of the shard dir (unlike the dedup stream, which only reads its
own shards inside process()), compaction runs with deferred cleanup:
shards covered by the NEWEST compact root survive until the round
after, so a search that listed the state just before a compaction
published still finds every root it planned to read.

Search (:func:`knn_ivfpq_stream_index`) delegates to
``knn_ivf_pq_from_index`` with the committed shards as ``extra_index``
— one probe/ADC/rerank implementation — and results are bit-identical
to a batch index containing the same vectors under the same model
(pinned by tests/test_streaming_ann.py).

The model is FROZEN by construction (the stream never retrains), and
that freeze is ENFORCED, not just documented: on first contact the
shard dir binds to the model's content fingerprint (``model_meta``),
and every later batch and every search re-checks it — rebuilding the
index in place under the old path makes the old shards' cluster ids
and codes garbage under the new centroids/books, so both sides REFUSE
a fingerprint mismatch with instructions to start a fresh shard dir +
checkpoint. Distribution drift within one model degrades only
shortlist quality (the exact rerank keeps returned similarities true).

Reference parity: no analogue — beyond-reference training-data mandate
(SURVEY.md north-star extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["knn_ivfpq_stream_index", "streaming_ivfpq_ingest"]

_SHARD_PFX = "codes_v"
_SHARD_DIR = "stream_shards"


def _check_or_bind_model(
    spark: SparkSession, index_path: str
) -> tuple["object", "object"]:
    """Load the persisted model and bind/validate the shard dir's model
    fingerprint (``model_meta``, ``_SUCCESS``-gated like every
    parameter meta). Returns (centroids, books); raises when the
    current model differs from the one the existing shards were encoded
    under."""
    from ..operators.similarity import (
        ivfpq_model_fingerprint,
        load_ivfpq_model,
    )
    from .state import meta_committed

    centroids, books = load_ivfpq_model(spark, index_path)
    fp = ivfpq_model_fingerprint(centroids, books)
    meta_path = f"{index_path}/{_SHARD_DIR}/model_meta"
    if meta_committed(spark, meta_path):
        bound = spark.read.parquet(meta_path).collect()[0]["fingerprint"]
        if bound != fp:
            raise ValueError(
                f"the IVF-PQ model under {index_path} changed since the "
                "stream shards were encoded (fingerprint mismatch) — "
                "their cluster ids and codes are meaningless under the "
                "rebuilt model. Start a fresh shard dir + checkpoint "
                "against the new index; do not search or extend these "
                "shards."
            )
    else:
        spark.createDataFrame(
            [(fp,)], "fingerprint string"
        ).coalesce(1).write.mode("overwrite").parquet(meta_path)
    return centroids, books


def streaming_ivfpq_ingest(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
    dropped_acc=None,
):
    """Maintain the stream half of a persisted IVF-PQ index: each
    micro-batch's vectors are coarse-assigned + residual-encoded with
    the frozen model and committed as one ``codes_v{batch_id}`` shard
    under ``{index_path}/stream_shards``. Returns the StreamingQuery;
    search with :func:`knn_ivfpq_stream_index`.

    Exactly-once: overwrite-idempotent ``_SUCCESS``-published shards,
    committed batch ids skip wholesale, the shard dir is bound to its
    checkpoint for life (a fresh checkpoint against existing shards
    would replay batch ids and silently drop real batches) AND to the
    model's content fingerprint (see module docstring). Id uniqueness
    across the base build and the stream is the caller's ingest
    contract, as everywhere else in the engine."""
    from ..operators.similarity import _ivfpq_index
    from .state import (
        bind_state_to_checkpoint,
        committed_index_state,
        compact_index_shards,
        drain_batch,
    )

    spark = stream.sparkSession
    shard_root = f"{index_path}/{_SHARD_DIR}"
    centroids, books = _check_or_bind_model(spark, index_path)
    bind_state_to_checkpoint(spark, shard_root, checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bspark = batch_df.sparkSession
        _check_or_bind_model(bspark, index_path)
        compact_path, hi, versions = committed_index_state(
            bspark, shard_root, _SHARD_PFX
        )
        if batch_id <= hi or batch_id in versions:
            drain_batch(batch_df)  # redelivery: this batch's shard is durable
            return
        _, c_indexed = _ivfpq_index(
            batch_df, id_col, vec_col, centroids, books, dropped_acc
        )
        c_indexed.write.mode("overwrite").parquet(
            f"{shard_root}/{_SHARD_PFX}{batch_id}"
        )
        # compaction AFTER the shard commit (publish-then-cleanup), with
        # DEFERRED covered-shard deletion: external searches that listed
        # the dir just before this publish keep their planned roots on
        # disk until the next compaction round
        if compact_every and len(versions) + 1 >= compact_every:
            compact_index_shards(
                bspark, shard_root, _SHARD_PFX, defer_cleanup=True
            )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def knn_ivfpq_stream_index(
    queries: DataFrame,
    corpus: DataFrame,
    index_path: str,
    k: int = 5,
    n_probe: int = 4,
    rerank_k: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dropped_acc=None,
) -> DataFrame:
    """Search the union of the base build and the committed stream
    shards: validates the model fingerprint the shards are bound to,
    assembles the committed shard union (one compact root + the live
    shards), and delegates to ``knn_ivf_pq_from_index`` with it as
    ``extra_index`` — same output contract ((query_id, neighbor_id,
    sim, rank), exact rounded cosine on the reranked survivors), same
    partition-pruned base scan, ONE search implementation. ``corpus``
    supplies raw vectors for the broadcast-shortlist rerank, base and
    stream vectors alike."""
    from ..operators.similarity import knn_ivf_pq_from_index
    from .state import committed_index_state

    spark = queries.sparkSession
    _check_or_bind_model(spark, index_path)

    compact_path, _, live = committed_index_state(
        spark, f"{index_path}/{_SHARD_DIR}", _SHARD_PFX
    )
    roots = ([compact_path] if compact_path else []) + [
        f"{index_path}/{_SHARD_DIR}/{_SHARD_PFX}{v}" for v in live
    ]
    extra = spark.read.parquet(*roots) if roots else None
    return knn_ivf_pq_from_index(
        queries, corpus, index_path,
        k=k, n_probe=n_probe, rerank_k=rerank_k,
        id_col=id_col, vec_col=vec_col, dropped_acc=dropped_acc,
        extra_index=extra,
    )
