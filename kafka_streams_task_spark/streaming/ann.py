"""Streaming ingest into a persisted IVF-PQ index: the always-on half
of the build-once/query-many ANN story.

``operators.similarity.build_ivfpq_index`` builds the nightly index;
``append_to_ivfpq_index`` ingests batch deltas. What neither covers is a
STREAM of new vectors under foreachBatch's at-least-once contract: a
blind parquet append is not idempotent — a redelivered micro-batch would
double-insert its vectors, and duplicate index rows silently skew every
downstream k-NN (the duplicate occupies a shortlist slot). This module
ingests exactly-once as an append-shard family of ``streaming/state.py``
(its module docstring gives the protocol): batch N encodes its vectors
with the FROZEN persisted model (the same one Arrow-stage encode the
batch appender uses) and writes them as one ``codes_v{N}`` shard.
Because the search here is an EXTERNAL reader of the shard dir (unlike
the dedup stream, which reads its own shards only inside its write
step), compaction runs with deferred cleanup: shards covered by the
NEWEST compact root survive until the round after, so a search that
listed the state just before a compaction published still finds every
root it planned to read.

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

    Exactly-once: the shard dir is an append-shard family of
    ``streaming/state.py`` (its module docstring gives the protocol),
    bound to its checkpoint for life AND to the model's content
    fingerprint (see module docstring). Id uniqueness across the base
    build and the stream is the caller's ingest contract, as everywhere
    else in the engine."""
    from ..operators.similarity import _ivfpq_index
    from .state import run_index_shards

    shard_root = f"{index_path}/{_SHARD_DIR}"
    centroids, books = _check_or_bind_model(stream.sparkSession, index_path)

    def write(batch_df: DataFrame, batch_id: int, _) -> None:
        _, c_indexed = _ivfpq_index(
            batch_df, id_col, vec_col, centroids, books, dropped_acc
        )
        c_indexed.write.mode("overwrite").parquet(
            f"{shard_root}/{_SHARD_PFX}{batch_id}"
        )

    # deferred cleanup: external searches that listed the dir just
    # before a compaction keep their planned roots until the next one
    return run_index_shards(
        stream, shard_root, checkpoint_dir, _SHARD_PFX, write,
        compact_every, defer_cleanup=True,
        check=lambda spark: _check_or_bind_model(spark, index_path),
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
    from .state import index_roots

    spark = queries.sparkSession
    _check_or_bind_model(spark, index_path)
    _, _, roots = index_roots(spark, f"{index_path}/{_SHARD_DIR}", _SHARD_PFX)
    extra = spark.read.parquet(*roots) if roots else None
    return knn_ivf_pq_from_index(
        queries, corpus, index_path,
        k=k, n_probe=n_probe, rerank_k=rerank_k,
        id_col=id_col, vec_col=vec_col, dropped_acc=dropped_acc,
        extra_index=extra,
    )
