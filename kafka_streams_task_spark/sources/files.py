"""File-based streaming sources — the test/dev seam.

The reference's TopologyTestDriver pipes records through the topology
without a broker (WeatherStreamsTest.java:57); our equivalent is a file (or
memory/rate) streaming source feeding the identical DataFrame topology, run
with ``trigger(availableNow=True)`` for deterministic drain-and-stop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_json_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


# ---------------------------------------------------------------------------
# Batch crawl ingestion (r6): schema-pinned JSONL / CSV readers with a
# corrupt-record quarantine — the front door a 100 TB corpus actually
# arrives through (crawl dumps land as gzipped JSONL / CSV shards, never
# as curated parquet).
#
# Built on text-scan + from_json/from_csv rather than the readers'
# PERMISSIVE ``_corrupt_record`` mode: Spark DISALLOWS any query whose
# referenced columns reduce to the internal corrupt column alone
# (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — even a count()
# after filtering on it trips this, because count prunes every other
# column), and the documented workaround is caching the raw frame, which
# is exactly wrong at corpus scale. The expression form has no internal
# column, so clean and quarantine frames are ordinary prunable plans.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F


def documents_schema() -> T.StructType:
    """The engine's documents-table contract as an EXPLICIT schema:
    ingestion never runs schema inference (inference is a full extra scan
    of the raw text at 100 TB, and a single odd shard can silently widen
    a column for the whole corpus)."""
    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )


def _split_parsed(lines: DataFrame, rec):
    """(clean, quarantine) from a text frame and a parse expression whose
    schema carries a ``_corrupt_record`` tail field: a record is corrupt
    when the parse failed outright (null struct) or the parser flagged
    it (type-mangled / wrong column count — PERMISSIVE mode preserves
    the raw text in the corrupt field). Unlike the file readers'
    internal corrupt column, a from_json/from_csv OUTPUT field has no
    query restrictions — both frames stay ordinary prunable plans."""
    parsed = lines.select(F.col("value"), rec.alias("_rec"))
    ok = parsed["_rec"].isNotNull() & parsed["_rec"][_CORRUPT].isNull()
    keep = [f.name for f in parsed.schema["_rec"].dataType.fields if f.name != _CORRUPT]
    clean = parsed.filter(ok).select(*[F.col(f"_rec.{c}").alias(c) for c in keep])
    quarantine = parsed.filter(~ok).select(F.col("value").alias("raw"))
    return clean, quarantine


_CORRUPT = "_corrupt_record"


def _with_corrupt_field(schema: T.StructType) -> T.StructType:
    if any(f.name == _CORRUPT for f in schema.fields):
        raise ValueError(f"schema must not already contain {_CORRUPT!r}")
    return T.StructType(list(schema.fields) + [T.StructField(_CORRUPT, T.StringType())])


def _ingest(
    spark: SparkSession,
    path: str,
    rec_expr_for,
    quarantine_path: str | None,
    drop_line=None,
) -> DataFrame:
    lines = spark.read.text(path).filter(F.trim("value") != "")
    if drop_line is not None:
        lines = lines.filter(F.col("value") != F.lit(drop_line))
    clean, quarantine = _split_parsed(lines, rec_expr_for(F.col("value")))
    if quarantine_path is not None:
        # write the quarantine BEFORE returning, so it exists even if the
        # caller never materializes the clean frame; two passes over the
        # same text scan (no shuffle in either) beat persisting raw text.
        # OVERWRITE, not append: the quarantine reflects THIS call over
        # THIS path — re-running the same ingest (retry, notebook re-run)
        # is idempotent instead of inflating counts without bound. Use a
        # distinct quarantine path per landing batch (it lives naturally
        # beside the batch).
        quarantine.write.mode("overwrite").parquet(quarantine_path)
    return clean


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    quarantine_path: str | None = None,
) -> DataFrame:
    """Read newline-delimited JSON shards under ``path`` against an
    explicit ``schema``; malformed lines (unparseable OR type-mangled)
    are QUARANTINED (raw text preserved at ``quarantine_path`` as one
    ``raw`` column), never silently dropped and never allowed to poison
    the typed columns.

    Scale shape: explicit schema = no inference pre-scan; clean and
    quarantine are two passes over the same text scan (no shuffle in
    either — cheaper than persisting a corpus-sized text frame). Spark
    reads ``.gz`` shards transparently but they are NOT splittable: a
    crawl should land as many ~100-500 MB shards (the standard dump
    layout) so parallelism is shard-count-bound."""
    full = _with_corrupt_field(schema)
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT}
    return _ingest(
        spark, path, lambda v: F.from_json(v, full, opts), quarantine_path
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    quarantine_path: str | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV twin of :func:`read_jsonl` — same explicit-schema quarantine
    contract via ``from_csv``. ``header=True`` drops lines that are
    EXACTLY the schema's column names joined by ``sep`` (the from_csv
    expression has no per-file first-line notion; a crawl shard whose
    header deviates from the contract shows up in the quarantine, which
    is the correct signal). Corollary: with an all-string schema, a DATA
    row that coincides byte-for-byte with the header line is silently
    dropped too (not quarantined) — it is indistinguishable from a
    header without per-file line numbers; quoted-header variants
    (``"doc_id",...``) are NOT dropped and land in the quarantine.

    LINE-BASED: records must be single-line — a quoted field with an
    embedded newline (legal CSV) is shattered into fragments that land
    in the quarantine, which is the detection signal but NOT recovery.
    Crawl/export dumps normally escape newlines (\n) inside fields; for
    trusted multiline shards use ``spark.read.csv(multiLine=True)``
    directly and forgo the quarantine (Spark's multiline parser and the
    corrupt-column restriction do not compose)."""
    full = _with_corrupt_field(schema)
    opts = {"sep": sep, "mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT}
    header_line = sep.join(f.name for f in schema.fields) if header else None
    return _ingest(
        spark,
        path,
        lambda v: F.from_csv(v, full.simpleString(), opts),
        quarantine_path,
        drop_line=header_line,
    )


def ingest_report(clean: DataFrame, quarantine_parquet: str | None, spark: SparkSession):
    """One-line ingestion accounting: ``(n_clean, n_quarantined)`` — the
    numbers an ingest job logs per shard batch. Bounded driver data (two
    scalars)."""
    n_clean = clean.count()
    n_bad = 0
    if quarantine_parquet is not None:
        from pyspark.errors import AnalysisException

        try:
            n_bad = spark.read.parquet(quarantine_parquet).count()
        except AnalysisException as e:
            # ONLY path-not-found means "nothing was quarantined" (the
            # ingest writes the quarantine dir whenever it has rows);
            # every other failure — empty/truncated dir, permissions,
            # unreadable footers — is a BROKEN quarantine, and reporting
            # "0 malformed" over it hides data loss, so it propagates.
            cond = (
                e.getCondition()
                if hasattr(e, "getCondition")
                else e.getErrorClass()  # pyspark < 4 name
            )
            if cond != "PATH_NOT_FOUND":
                raise
            n_bad = 0
    return n_clean, n_bad


def streaming_ingest_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    clean_path: str,
    quarantine_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Continuous crawl ingestion: the streaming twin of
    :func:`read_jsonl` — new shards landing under ``path`` are parsed
    against the explicit schema and split per micro-batch into typed
    clean parquet and a raw-text quarantine. Returns the started query
    (``availableNow`` trigger: drain what exists, then stop — rerun on a
    schedule or swap the trigger for continuous tailing).

    Exactly-once: each batch overwrites its OWN ``batch=<id>``
    partition directory in both sinks, so a redelivered batch rewrites
    the same directory instead of appending duplicates, and
    clean/quarantine cannot fork. Both output dirs are bound to the
    checkpoint for life; ``streaming/state.py``'s module docstring gives
    the protocol. Readers see the batch id as a partition column (ingest
    provenance). Per-batch work is one text scan of the new shards (the
    from_json split; no shuffle)."""
    from ..streaming.state import run_foreach_batch

    full = _with_corrupt_field(schema)
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT}

    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(path).filter(F.trim("value") != "")

    def write(batch_df: DataFrame, batch_id: int, _) -> None:
        clean, quarantine = _split_parsed(
            batch_df, F.from_json(F.col("value"), full, opts)
        )
        clean.write.mode("overwrite").parquet(f"{clean_path}/batch={batch_id}")
        quarantine.write.mode("overwrite").parquet(
            f"{quarantine_path}/batch={batch_id}"
        )

    return run_foreach_batch(
        lines, checkpoint_dir, [clean_path, quarantine_path], write
    )
