"""The r9 streaming capstone: continuous crawl → quality-filtered,
expectation-gated, versioned corpus — the two r8 wings (streaming WARC
ingestion and DSIR importance filtering) wired into the snapshot layer
end to end (VERDICT r8 item 7).

Per micro-batch: new WARC shards (binaryFile path-only scan, in-task
streaming parse — the ``streaming_ingest_warc`` machinery) →
``warc_to_documents`` → ``streaming_dsir_filter`` with a FITTED model
(stateless broadcast λ-vector scoring; no state store) → one
``snapshot_write(mode="append", expectations=…, unique_keys=…)``
commit. Readers of the snapshot table only ever see fully-committed,
quality-gated versions.

Exactly-once without an idempotent sink format: foreachBatch is
at-least-once, and a blind snapshot append would double-ingest on
redelivery (or, under the r9 table-level uniqueness gate, crash the
query). Each batch's commit is instead stamped with ``tag =
"batch-<id>"`` in the version manifest, as a snapshot-tag family of
``streaming/state.py``, whose module docstring gives the protocol.

Reference parity: no analogue (the reference engine has no file
sources, filters, or storage versioning) — beyond-reference
training-data mandate, SURVEY.md §2.7 note.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.warc import _records_from_files, warc_to_documents
from .dsir import streaming_dsir_filter
from .state import run_tagged_snapshots


def streaming_crawl_to_snapshot(
    spark: SparkSession,
    path: str,
    table_path: str,
    checkpoint_dir: str,
    weights: DataFrame,
    threshold: float,
    expectations: dict | None = None,
    unique_keys: dict | None = None,
    record_types: tuple[str, ...] | None = ("response",),
    max_files_per_trigger: int | None = None,
    max_payload_bytes: int | None = None,
    min_chars: int = 1,
):
    """Start the capstone query (``availableNow``: drain new shards,
    then stop — rerun on a schedule or switch the trigger for 24/7).

    ``weights`` must be a FITTED batch model from ``dsir_fit``
    (enforced by ``streaming_dsir_filter``); ``threshold`` is the
    importance log-weight floor. The kept documents land with their
    ``dsir_logw``/``n_grams`` audit columns — WHY a page survived is
    part of the corpus record.

    Scale shape: every stage is the one already audited at its home —
    path-only scan (no 2 GiB cap, no bytes through the JVM), one Arrow
    parse stage per batch, codegen extraction, stateless broadcast
    scoring, footer-audited manifest commit. Nothing here adds state
    stores or shuffles beyond the parse's own. ``unique_keys`` prices
    every batch at one key-pruned scan of the table-so-far (the
    cross-version re-insert probe) — fine for scheduled availableNow
    ingests, deliberate for high-frequency triggers; redelivery
    duplicates are already removed for free by the tag idempotence, so
    drop ``unique_keys`` when the only duplicate source is redelivery.
    """
    # validate the model ONCE at plan-build time (driver-side), not
    # first-batch time: a streaming weights frame must fail fast here
    if weights.isStreaming:
        raise ValueError(
            "weights must be a batch DataFrame (a fitted model), not a stream"
        )
    kept = set(record_types) | {"_malformed"} if record_types else None

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(path).select("path")

    def documents(batch_df: DataFrame) -> DataFrame:
        records = _records_from_files(
            batch_df,
            strip_http_headers=True,
            kept=kept,
            max_payload_bytes=max_payload_bytes,
        )
        docs = warc_to_documents(records, min_chars=min_chars)
        return streaming_dsir_filter(docs, weights, threshold)

    return run_tagged_snapshots(
        files, table_path, checkpoint_dir, "batch", prepare=documents,
        expectations=expectations, unique_keys=unique_keys,
    )
