"""WARC crawl source — Common Crawl's on-disk format as a batch reader.

A 100 TB pretraining corpus usually STARTS as WARC (ISO 28500): a crawl
dump is tens of thousands of ~1 GB ``.warc.gz`` shards, each a
concatenation of length-delimited records (``WARC/1.0`` header block,
``Content-Length`` octets of payload, CRLF CRLF). The processing grain
everyone uses — and the one Spark's scheduler wants — is ONE FILE PER
TASK: a crawl's shard count (~64k for Common Crawl) dwarfs any cluster's
core count, so file-level parallelism saturates executors without
needing the (gzip-unsplittable) records themselves to split.

Spark-first shape (r8): a PATH-ONLY ``binaryFile`` scan (column pruning
makes it a pure listing — ``ReadSchema: struct<path:string>``, no bytes
touch the JVM) → one Arrow-batched ``mapInPandas`` stage that OPENS each
shard inside the task via ``pyarrow.fs`` and walks it with a pure-Python
ISO 28500 parser, yielding bounded record batches (cardinality-changing,
like :mod:`..operators.multimodal`'s frame sampler). No RDDs, no Hadoop
input formats, no driver-side I/O. Two scale properties the r7 shape
(binaryFile CONTENT rows) lacked:

* no 2 GiB cap: Spark's binaryFile content column refuses files over
  Int.MaxValue bytes — one oversized crawl shard killed the whole
  ingest job. Path rows carry no length check; the Python parser
  streams the shard regardless of size.
* O(batch) memory for real: shard bytes never cross the JVM→Arrow
  boundary — the task reads directly from storage (local FS, S3, HDFS —
  whatever ``pyarrow.fs.FileSystem.from_uri`` resolves), decompressing
  incrementally. Every read inside the parser is bounded
  (:data:`_MAX_LINE` line cap, ``max_payload_bytes`` payload cap), so
  peak per-task memory is independent of shard size.

Malformed input follows the r6 quarantine discipline
(``sources/files.py``): a record that violates the framing (bad version
line, unparseable ``Content-Length``) is emitted as ``warc_type =
'_malformed'`` carrying the skipped bytes, and the parser RESYNCS at the
next ``WARC/1.0`` marker — one bad record costs itself, not the shard.

Reference parity: absent from the reference engine (Kafka-only ingest,
WeatherHotelsApp.java:49-64) — beyond-reference training-data mandate,
same family as the JSONL/CSV crawl ingestion in ``sources/files.py``.
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from ..schemas import local_table

#: one row per WARC record. payload is the HTTP message BODY for
#: response/request records when strip_http_headers=True (status/mime
#: lifted into columns), else the raw record block. ``truncated`` is
#: NULL for complete payloads, 'length' when max_payload_bytes capped
#: this read, else the upstream crawler's WARC-Truncated reason
#: (ISO 28500 §5.13: length/time/disconnect/unspecified).
WARC_RECORD = T.StructType(
    [
        T.StructField("source_file", T.StringType(), False),
        T.StructField("record_idx", T.LongType(), False),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("content_length", T.LongType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("http_content_type", T.StringType(), True),
        T.StructField("truncated", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

_VERSION_PREFIX = b"WARC/"

#: per-readline byte cap — spec header lines are tiny; the cap's job is
#: bounding memory when scanning GARBAGE (a multi-GB run with no
#: newline would otherwise make one readline() allocate the whole run)
_MAX_LINE = 1 << 20
#: quarantine rows retain at most this much of a garbage run; the
#: resync still SCANS the full run (bounded chunks), it just stops
#: hoarding bytes past the cap
_MAX_GARBAGE_KEEP = 1 << 20
_SKIP_CHUNK = 1 << 20


def _escape_shard_uri(path: str) -> str:
    """Pre-escape a non-``file:`` shard name for ``FileSystem.from_uri``:
    a literal '%' becomes '%25' so URI parsing decodes it back to the
    literal byte. Escaping '%' FIRST also keeps the quote() fallback's
    own escapes intact (they are emitted after, over the already-escaped
    string, with '%' in its safe set)."""
    return path.replace("%", "%25")


def _open_shard(path: str) -> io.BufferedIOBase:
    """Open one shard URI inside the task — ``pyarrow.fs`` resolves the
    scheme (file/s3/hdfs/gcs…), ``io.BufferedReader`` supplies
    peek/readline. Gzip is detected by magic bytes and layered as an
    incremental decompressor (multi-member chaining included), so
    compressed shards stream too.

    binaryFile emits Hadoop's minimally-encoded path form, NOT a valid
    URI: a name with a space breaks ``from_uri`` (ArrowInvalid), and a
    name with a literal '%' would be silently DECODED into a different
    path (review r8 — from_uri('a%20b.warc') would open 'a b.warc').
    So the ``file:`` scheme never round-trips through URI parsing at
    all: the literal local path opens directly. Other schemes
    pre-escape any literal '%' BEFORE ``from_uri`` — a remote shard
    named ``a%20b.warc`` parses *successfully* as the URI of ``a
    b.warc`` (no exception, so a decode-after-the-fact fallback never
    triggers; ADVICE r8), silently opening the wrong object key — then
    fall back to full percent-encoding for names ``from_uri`` rejects
    outright (spaces etc.). URI-hostile names cost at most a quarantine
    row, never the job."""
    from urllib.parse import quote

    from pyarrow import fs as pafs

    if path.startswith("file:"):
        local = path[5:]
        if local.startswith("//"):  # file:///x and file://host/x forms
            local = "/" + local[2:].split("/", 1)[1]
        filesystem, fs_path = pafs.LocalFileSystem(), local
    else:
        escaped = _escape_shard_uri(path)
        try:
            filesystem, fs_path = pafs.FileSystem.from_uri(escaped)
        except Exception:
            filesystem, fs_path = pafs.FileSystem.from_uri(
                quote(escaped, safe=":/@&=+$,;~*'()!-._%")
            )
    buffered = io.BufferedReader(filesystem.open_input_file(fs_path))
    if buffered.peek(2)[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=buffered)
    return buffered


def _skip_bytes(stream: io.BufferedIOBase, n: int) -> int:
    """Advance ``n`` bytes without materializing them; returns bytes
    actually skipped (< n ⇒ the stream ended early). Plain seekable
    streams skip in O(1); gzip/sequential streams discard in bounded
    chunks (a forward gzip seek is an internal read anyway)."""
    if not isinstance(stream, gzip.GzipFile) and stream.seekable():
        # seek past EOF "succeeds" on regular files, so clamp to the
        # real end — three O(1) seeks, no byte materializes
        start = stream.tell()
        end = stream.seek(0, io.SEEK_END)
        target = min(start + n, end)
        stream.seek(target)
        return target - start
    remaining = n
    while remaining > 0:
        chunk = stream.read(min(_SKIP_CHUNK, remaining))
        if not chunk:
            break
        remaining -= len(chunk)
    return n - remaining


def _parse_header_block(block: bytes) -> dict[str, str]:
    """``Name: value`` lines (folded continuations joined); names are
    case-insensitive per the spec — normalized to lower."""
    headers: dict[str, str] = {}
    last = None
    for raw in block.split(b"\r\n"):
        if not raw:
            continue
        if raw[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + raw.strip().decode("utf-8", "replace")
            continue
        name, sep, value = raw.partition(b":")
        if not sep:
            continue
        last = name.strip().decode("utf-8", "replace").lower()
        headers[last] = value.strip().decode("utf-8", "replace")
    return headers


def _split_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an HTTP message into (status, content-type, body). Returns
    (None, None, payload) when the payload is not an HTTP message."""
    if not (payload.startswith(b"HTTP/") or payload.startswith(b"GET ")
            or payload.startswith(b"POST ") or payload.startswith(b"HEAD ")):
        return None, None, payload
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        return None, None, payload
    lines = head.split(b"\r\n")
    status: int | None = None
    if lines[0].startswith(b"HTTP/"):
        parts = lines[0].split()
        if len(parts) >= 2 and parts[1].isdigit():
            status = int(parts[1])
    ctype = None
    for ln in lines[1:]:
        name, _, value = ln.partition(b":")
        if name.strip().lower() == b"content-type":
            ctype = value.strip().decode("utf-8", "replace")
            break
    return status, ctype, body


def iter_warc_records(
    stream: io.BufferedIOBase,
    strip_http_headers: bool = True,
    max_payload_bytes: int | None = None,
) -> Iterator[dict]:
    """Walk one (decompressed) WARC byte stream, yielding one dict per
    record in :data:`WARC_RECORD` column order (minus source_file /
    record_idx, which the caller owns). Framing violations yield a
    ``_malformed`` record holding the skipped bytes, then resync at the
    next CRLF-preceded ``WARC/`` marker.

    Memory is bounded regardless of input: every line read is capped at
    :data:`_MAX_LINE`, quarantined garbage retains at most
    :data:`_MAX_GARBAGE_KEEP`, and ``max_payload_bytes`` (Common Crawl
    uses 1 MiB) caps each payload — capped records carry
    ``truncated='length'`` (ISO 28500 §5.13 semantics; the remainder is
    skipped without materializing, O(1) on seekable plain streams) and
    ``content_length`` still states the CLAIMED size. A stream that ends
    mid-payload yields the partial record as ``_malformed`` (the framing
    is unrecoverable past it) rather than silently passing short bytes
    off as complete.
    """

    def resync(first: bytes) -> bytes:
        """Scan (bounded chunks) up to the next record start; returns
        the skipped garbage, retaining at most _MAX_GARBAGE_KEEP."""
        garbage = bytearray(first)
        while True:
            line = stream.readline(_MAX_LINE)
            if not line:
                return bytes(garbage[:_MAX_GARBAGE_KEEP])
            if line.startswith(_VERSION_PREFIX):
                # a new record begins; parse it on the next outer loop by
                # handing the line back via the pushback buffer
                pushback.append(line)
                return bytes(garbage[:_MAX_GARBAGE_KEEP])
            if len(garbage) < _MAX_GARBAGE_KEEP:
                garbage += line

    pushback: list[bytes] = []
    while True:
        line = pushback.pop() if pushback else stream.readline(_MAX_LINE)
        if not line:
            return
        if line in (b"\r\n", b"\n"):  # inter-record gap
            continue
        if not line.startswith(_VERSION_PREFIX):
            yield {
                "warc_type": "_malformed",
                "record_id": None,
                "target_uri": None,
                "warc_date": None,
                "content_type": None,
                "content_length": None,
                "http_status": None,
                "http_content_type": None,
                "truncated": None,
                "payload": resync(line),
            }
            continue
        header_lines = bytearray()
        header_overflow = False
        while True:
            hl = stream.readline(_MAX_LINE)
            if hl in (b"\r\n", b"\n", b""):
                break
            # spec header blocks are <1 KiB; a never-blank multi-GB run
            # of lines is corruption and must not accumulate unbounded
            # (review r8 — the 2 GiB binaryFile ceiling no longer
            # implicitly bounds it)
            if len(header_lines) + len(hl) > _MAX_LINE:
                header_overflow = True
                break
            header_lines += hl
        if header_overflow:
            yield {
                "warc_type": "_malformed",
                "record_id": None,
                "target_uri": None,
                "warc_date": None,
                "content_type": None,
                "content_length": None,
                "http_status": None,
                "http_content_type": None,
                "truncated": None,
                "payload": resync(
                    (line + bytes(header_lines))[:_MAX_GARBAGE_KEEP]
                ),
            }
            continue
        headers = _parse_header_block(bytes(header_lines))
        length_s = headers.get("content-length", "")
        if not length_s.isdigit():
            yield {
                "warc_type": "_malformed",
                "record_id": headers.get("warc-record-id"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_type": headers.get("content-type"),
                "content_length": None,
                "http_status": None,
                "http_content_type": None,
                "truncated": None,
                "payload": resync(line + bytes(header_lines)),
            }
            continue
        claimed = int(length_s)
        want = claimed if max_payload_bytes is None else min(claimed, max_payload_bytes)
        payload = stream.read(want)
        truncated = headers.get("warc-truncated") or None
        short_stream = len(payload) < want
        if not short_stream and want < claimed:
            truncated = "length"
            short_stream = _skip_bytes(stream, claimed - want) < claimed - want
        warc_type = headers.get("warc-type")
        if short_stream:
            # the shard ended mid-payload: content_length lies about
            # what we hold, and nothing past it can be framed — emit
            # what we have as quarantine, never as a complete record
            warc_type = "_malformed"
        status = ctype = None
        if strip_http_headers and headers.get("content-type", "").startswith(
            "application/http"
        ):
            status, ctype, payload = _split_http(payload)
        yield {
            "warc_type": warc_type,
            "record_id": headers.get("warc-record-id"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "content_length": claimed,
            "http_status": status,
            "http_content_type": ctype,
            "truncated": truncated,
            "payload": payload,
        }


def _records_from_files(
    files: DataFrame,
    strip_http_headers: bool,
    kept: set[str] | None,
    batch_records: int = 256,
    max_payload_bytes: int | None = None,
) -> DataFrame:
    """The shared parse stage (batch and streaming plans): a PATH-ONLY
    frame → :data:`WARC_RECORD` rows via one cardinality-changing
    ``mapInPandas``. Each task opens its shard directly from storage
    (:func:`_open_shard`) — shard bytes never transit the JVM, so there
    is no 2 GiB binaryFile cap and no whole-shard Arrow copy."""

    def batches(parts: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WARC_RECORD.fields]

        def flush(buf: list[tuple]) -> pd.DataFrame:
            return pd.DataFrame(buf, columns=cols)

        def quarantine(e: Exception) -> dict:
            return {
                "warc_type": "_malformed",
                "record_id": None,
                "target_uri": None,
                "warc_date": None,
                "content_type": None,
                "content_length": None,
                "http_status": None,
                "http_content_type": None,
                "truncated": None,
                "payload": f"decompression failed: {e}".encode(),
            }

        for pdf in parts:
            for fname in pdf["path"]:
                buf: list[tuple] = []
                idx = 0
                # open failures quarantine the SHARD row, never the task:
                # deliberately broad — unresolvable URI (ArrowInvalid),
                # missing file, permission, FS driver error all land here
                try:
                    stream = _open_shard(fname)
                except Exception as e:
                    yield flush([(fname, 0, *quarantine(e).values())])
                    continue
                try:
                    records = iter_warc_records(
                        stream, strip_http_headers, max_payload_bytes
                    )
                    while True:
                        # a truncated/corrupt gz member raises out of
                        # the record iterator's readline/read (zlib
                        # raises zlib.error, NOT OSError, on corrupt
                        # deflate data) — that must cost the shard's
                        # REMAINDER a quarantine row, not the task (and
                        # with it the whole ingest job)
                        try:
                            rec = next(records)
                        except StopIteration:
                            break
                        except (OSError, EOFError, zlib.error) as e:
                            buf.append((fname, idx, *quarantine(e).values()))
                            break
                        if kept is None or rec["warc_type"] in kept:
                            buf.append((fname, idx, *rec.values()))
                            if len(buf) >= batch_records:
                                yield flush(buf)
                                buf = []
                        idx += 1
                finally:
                    stream.close()
                if buf:
                    yield flush(buf)

    return files.mapInPandas(batches, WARC_RECORD)


def read_warc(
    spark: SparkSession,
    path: str,
    strip_http_headers: bool = True,
    record_types: tuple[str, ...] | None = None,
    batch_records: int = 256,
    max_payload_bytes: int | None = None,
) -> DataFrame:
    """Read WARC / WARC-gz shard(s) at ``path`` (file, dir, or glob —
    whatever ``binaryFile`` accepts) into one row per record. The scan
    is path-only (a listing); each task streams its shard straight from
    storage, so shards may exceed 2 GiB and per-task memory stays
    O(batch) — see the module docstring.

    ``record_types`` pushes a type filter INTO the parser (e.g.
    ``("response",)`` — the usual 3× row reduction for crawl corpora,
    skipping request/metadata twins before they ever cross Arrow).
    ``_malformed`` rows always pass the filter: dropping the quarantine
    silently is the failure mode the r6 ingest work exists to prevent.

    ``max_payload_bytes`` caps each record's payload (Common Crawl uses
    1 MiB): capped records carry ``truncated='length'`` and the skipped
    remainder never materializes.

    Gzip is detected per-file by magic bytes; multi-member gz (Common
    Crawl writes one member per record) decompresses transparently via
    ``gzip.GzipFile``'s member chaining.
    """
    kept = set(record_types) | {"_malformed"} if record_types else None
    files = spark.read.format("binaryFile").load(path).select("path")
    return _records_from_files(
        files, strip_http_headers, kept, batch_records, max_payload_bytes
    )


def read_warc_manifest(
    spark: SparkSession,
    paths,
    strip_http_headers: bool = True,
    record_types: tuple[str, ...] | None = None,
    batch_records: int = 256,
    max_payload_bytes: int | None = None,
    path_col: str = "path",
) -> DataFrame:
    """:func:`read_warc` over an EXPLICIT shard list instead of a
    directory scan — the Common Crawl workflow (the crawl publishes a
    ``warc.paths`` manifest; jobs read a selected/remaining subset, not
    whatever a listing returns). ``paths`` is a python list of URIs or
    a DataFrame with ``path_col``; dedup/resume logic (anti-join against
    already-ingested paths) composes upstream as plain DataFrame ops.
    The parse stage, quarantine, type pushdown, and payload cap are
    exactly :func:`read_warc`'s."""
    if isinstance(paths, DataFrame):
        files = paths.select(F.col(path_col).alias("path"))
    else:
        files = local_table(spark, [(p,) for p in paths], "path string")
    kept = set(record_types) | {"_malformed"} if record_types else None
    return _records_from_files(
        files, strip_http_headers, kept, batch_records, max_payload_bytes
    )


def warc_ingest_report(records: DataFrame) -> DataFrame:
    """One-row health report for a WARC read: record counts, malformed
    count, payload mass — a single partial+final aggregate, no second
    scan (same discipline as ``sources/files.py:ingest_report``)."""
    return records.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum((F.col("warc_type") == "_malformed").cast("long")).alias(
            "n_malformed"
        ),
        # r8: capped/upstream-truncated record count. (A claimed-vs-held
        # byte delta is deliberately NOT reported: with the default HTTP
        # header strip, payload holds only the message BODY while
        # content_length claims the full message, so the delta would be
        # nonzero on every healthy read — review r8.)
        F.sum(F.col("truncated").isNotNull().cast("long")).alias("n_truncated"),
        F.sum(F.length("payload").cast("long")).alias("payload_bytes"),
        F.count_distinct("source_file").alias("n_files"),
    )


def warc_charset_report(records: DataFrame) -> DataFrame:
    """Per-charset composition of a crawl read — the health check that
    says when :func:`warc_to_documents`'s default UTF-8 cast would be
    lying (real crawls are ~10-25% non-UTF-8; mojibake from a silent
    latin-1/GBK tail is invisible in row counts). Entirely codegen — a
    cheap sniff mirroring ``operators/charset.py:resolve_charset``'s
    precedence (BOM → HTTP header param → ``<meta charset>`` in the
    head bytes → UTF-8 validation), then ONE partial+final aggregate:

    * ``charset`` — lower-cased declared/sniffed name; ``utf-8`` when
      undeclared but the payload validates (``is_valid_utf8`` runs
      JVM-side on the raw binary); ``unknown(non-utf-8)`` when
      undeclared and invalid — the bucket that demands
      ``exact_charset=True``,
    * ``n_records`` / ``payload_bytes`` — mass per charset,
    * ``pct_records`` — share, so "4% windows-1252" reads off directly.

    If the frame already went through ``decode_payloads`` (a ``charset``
    column exists), the RESOLVED charset is used as-is instead of
    sniffing.
    """
    if "charset" in records.columns:
        cs = F.lower("charset")
        mass = F.length("text") if "text" in records.columns else F.lit(0)
    else:
        head = F.substring("payload", 1, 4096).cast("string")
        declared = F.coalesce(
            F.regexp_extract(
                F.lower("http_content_type"), r"charset\s*=\s*[\"']?([\w.:-]+)", 1
            ),
            F.lit(""),
        )
        meta = F.regexp_extract(
            F.lower(head), r"<meta[^>]+charset\s*=\s*[\"']?([\w.:-]+)", 1
        )
        bom2 = F.substring("payload", 1, 2)
        cs = (
            F.when(
                F.substring("payload", 1, 3) == F.lit(b"\xef\xbb\xbf"),
                F.lit("utf-8-sig"),
            )
            .when(
                (bom2 == F.lit(b"\xff\xfe")) | (bom2 == F.lit(b"\xfe\xff")),
                F.lit("utf-16"),
            )
            .when(declared != "", declared)
            .when(meta != "", meta)
            .when(F.is_valid_utf8("payload"), F.lit("utf-8"))
            .otherwise(F.lit("unknown(non-utf-8)"))
        )
        mass = F.length("payload")
    counted = records.filter(F.col("warc_type") != "_malformed").groupBy(
        cs.alias("charset")
    ).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(mass.cast("long")).alias("payload_bytes"),
    )
    # single-partition window is safe HERE: it runs on the post-agg
    # frame, whose cardinality is the number of distinct charsets (~10s)
    total = F.sum("n_records").over(Window.partitionBy())
    return counted.withColumn(
        "pct_records", F.round(F.col("n_records") * 100.0 / total, 2)
    ).orderBy(F.desc("n_records"), "charset")


def warc_to_documents(
    records: DataFrame, min_chars: int = 1, exact_charset: bool = False
) -> DataFrame:
    """The crawl front door, end to end: WARC records (from
    :func:`read_warc`) → a documents-shaped corpus frame. Everything
    after the parse is ONE codegen projection + filter — no second
    Python stage:

    * keep HTTP 200 ``response`` records whose payload is (x)html,
    * payload bytes → text: Spark's binary→string cast by default
      (assumes UTF-8; invalid sequences degrade to replacement chars),
      or ``exact_charset=True`` for per-document charset resolution via
      ``operators/charset.py:decode_payloads`` (BOM/header/meta
      precedence — one extra Arrow stage, the exact path for corpora
      with a legacy-charset tail),
    * ``html_to_text`` + ``clean_text`` extraction,
    * URL canonicalized for dedup keys plus its registrable domain
      (the leakage/blocklist unit downstream operators group on),
    * drop docs shorter than ``min_chars`` AFTER cleaning.

    Output: ``doc_uid`` (WARC record id), ``url``, ``url_key``,
    ``domain``, ``fetched_at``, ``text``, ``n_chars``, ``source_file``.
    """
    from ..functions.text import clean_text, html_to_text
    from ..functions.url import normalize_url, registered_domain

    is_html = F.col("http_content_type").rlike("(?i)^(text/html|application/xhtml)")
    pages = records.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & is_html
        & F.col("target_uri").isNotNull()
    )
    if exact_charset:
        from ..operators.charset import decode_payloads

        # the filter above runs BEFORE the Arrow stage, so only kept
        # pages pay the Python decode
        pages = decode_payloads(pages, text_col="_raw_text")
        text = clean_text(html_to_text(F.col("_raw_text")))
    else:
        text = clean_text(html_to_text(F.col("payload").cast("string")))
    return (
        pages
        .select(
            F.col("record_id").alias("doc_uid"),
            F.col("target_uri").alias("url"),
            normalize_url(F.col("target_uri")).alias("url_key"),
            registered_domain(F.col("target_uri")).alias("domain"),
            F.col("warc_date").alias("fetched_at"),
            text.alias("text"),
            F.col("source_file"),
        )
        .withColumn("n_chars", F.length("text"))
        .filter(F.col("n_chars") >= F.lit(int(min_chars)))
    )


def streaming_ingest_warc(
    spark: SparkSession,
    path: str,
    out_path: str,
    checkpoint_dir: str,
    strip_http_headers: bool = True,
    record_types: tuple[str, ...] | None = None,
    max_files_per_trigger: int | None = None,
    transform=None,
    max_payload_bytes: int | None = None,
):
    """Continuous crawl ingestion, WARC edition: the streaming twin of
    :func:`read_warc` — new shards landing under ``path`` stream through
    the SAME parser stage (``binaryFile`` is a streaming file source, so
    the batch and streaming plans share everything past the scan) and
    land as parquet records under ``out_path``. Returns the started
    query (``availableNow``: drain, then stop).

    ``transform`` (``DataFrame -> DataFrame``, optional) runs on each
    micro-batch's RECORDS frame before the sink — pass
    :func:`warc_to_documents` to land a documents-shaped corpus instead
    of raw records; the batch-id overwrite idempotence is unaffected
    because the transform is deterministic per batch. Because a
    transform typically FILTERS (warc_to_documents keeps only 200/html
    responses), the ``_malformed`` quarantine rows are written
    separately under ``{out_path}/_quarantine/batch=<id>`` whenever a
    transform is set — the underscore prefix keeps them out of naive
    ``read.parquet(out_path)`` scans while preserving the in-band
    no-silent-drop guarantee.

    Same exactly-once discipline as ``streaming_ingest_jsonl``
    (sources/files.py): each micro-batch overwrites its own
    ``batch=<id>`` partition directory, and ``out_path`` is bound to its
    checkpoint (``streaming/state.py``'s module docstring gives the
    protocol). Malformed records travel in-band
    (``warc_type='_malformed'`` rows), so the quarantine shares the
    commit atomically with the clean rows.
    """
    from ..streaming.state import run_foreach_batch

    kept = set(record_types) | {"_malformed"} if record_types else None

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # path-only projection: same pruned (no-content) scan as the batch
    # twin — shard bytes are opened in-task, not shipped through Arrow
    files = reader.load(path).select("path")

    def write(batch_df: DataFrame, batch_id: int, _) -> None:
        records = _records_from_files(
            batch_df, strip_http_headers, kept,
            max_payload_bytes=max_payload_bytes,
        )
        if transform is not None:
            # batch-scoped persist: the quarantine split and the
            # transform both consume the parse; without it the Arrow
            # stage would re-parse every shard twice
            records = records.persist()
            try:
                records.filter(F.col("warc_type") == "_malformed").write.mode(
                    "overwrite"
                ).parquet(f"{out_path}/_quarantine/batch={batch_id}")
                transform(records).write.mode("overwrite").parquet(
                    f"{out_path}/batch={batch_id}"
                )
            finally:
                records.unpersist()
        else:
            records.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    return run_foreach_batch(files, checkpoint_dir, [out_path], write)


def warc_link_graph(records: DataFrame, node: str = "domain") -> DataFrame:
    """Domain-level (or page-level, ``node="url"``) link edges from WARC
    response records — the input PageRank-style crawl quality weighting
    (``operators/graph.py:pagerank``) runs on. One codegen projection +
    explode after the parse stage:

    * source node from the record's target URI, destination nodes from
      the payload's anchor hrefs (absolute links only —
      ``functions/text.py:html_links``),
    * both sides reduced to the registrable domain when
      ``node="domain"`` (the usual granularity: page-level graphs at
      crawl scale are ~100× larger and rank the same spam),
    * self-loops dropped (intra-site links carry no cross-site signal),
      parallel edges kept — pagerank counts them as extra mass, matching
      the adjacency-matrix definition.
    """
    from ..functions.text import html_links
    from ..functions.url import normalize_url, registered_domain

    if node not in ("domain", "url"):
        raise ValueError(f"node must be 'domain' or 'url', got {node!r}")
    html = F.col("payload").cast("string")
    pages = records.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").rlike("(?i)^(text/html|application/xhtml)")
        & F.col("target_uri").isNotNull()
    ).select(
        F.col("target_uri").alias("_src_url"),
        F.explode(html_links(html)).alias("_dst_url"),
    )
    if node == "domain":
        edges = pages.select(
            registered_domain(F.col("_src_url")).alias("src"),
            registered_domain(F.col("_dst_url")).alias("dst"),
        )
    else:
        edges = pages.select(
            normalize_url(F.col("_src_url")).alias("src"),
            normalize_url(F.col("_dst_url")).alias("dst"),
        )
    return edges.filter(
        F.col("src").isNotNull()
        & F.col("dst").isNotNull()
        & (F.col("src") != F.col("dst"))
    )
