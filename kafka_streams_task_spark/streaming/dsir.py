"""Streaming DSIR: importance-weighted quality filtering at ingest.

Batch DSIR (operators/dsir.py) selects from a corpus at rest; a
continuous crawl ALSO wants the importance model applied as documents
arrive, so obviously-off-target pages never land. The fitted model is
≤n_features+1 rows by construction, so it ships to every executor as a
broadcast dense λ-vector and scoring becomes a STATELESS projection —
no stream-static join, no stateful aggregation, no watermark: the one
shape that drops into any Structured Streaming pipeline (including the
``transform=`` hook of ``streaming_ingest_warc`` /
``streaming_ingest_jsonl``) without adding state stores.

Train/serve symmetry: the stream scorer is :func:`dsir_score_dense`,
whose gram→bucket arithmetic is the SAME column expression the batch
fit used — a page scores identically at ingest and in a later at-rest
re-score (modulo float sum order, ~1e-12), so threshold decisions are
reproducible across tiers.

Reference parity: no analogue (the reference engine filters nothing) —
beyond-reference training-data mandate, SURVEY.md §2.7 note.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dsir import dsir_score_dense


def streaming_dsir_filter(
    stream: DataFrame,
    weights: DataFrame,
    threshold: float,
    text_col: str = "text",
    n_features: int | None = None,
    keep_scores: bool = True,
) -> DataFrame:
    """Keep stream rows whose importance log-weight clears ``threshold``
    (documents with NO grams — empty/NULL text — score exactly 0 and
    pass iff ``threshold <= 0``; run the quarantine/empty-text policy
    upstream if that is not the intent).

    ``weights`` must be a FITTED model from ``dsir_fit`` (a batch
    DataFrame — it is collapsed to the broadcast vector at plan-build
    time, which is why a streaming frame is rejected). ``keep_scores``
    retains ``dsir_logw``/``n_grams`` for the sink (audit trail of WHY
    a page survived); pass False to land the input schema unchanged.
    """
    if weights.isStreaming:
        raise ValueError(
            "weights must be a batch DataFrame (a fitted model), not a stream"
        )
    scored = dsir_score_dense(
        stream, weights, text_col, n_features
    ).filter(F.col("dsir_logw") >= F.lit(float(threshold)))
    if keep_scores:
        return scored
    return scored.drop("dsir_logw", "n_grams")
