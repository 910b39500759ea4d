from .kafka import (
    read_kafka_stream,
    read_kafka_batch,
    write_kafka_stream,
    kafka_available,
    to_wire,
    from_wire,
)
from .files import (
    documents_schema,
    ingest_report,
    read_csv,
    read_json_stream,
    read_jsonl,
)
from .warc import (
    read_warc,
    read_warc_manifest,
    warc_ingest_report,
    warc_to_documents,
)

__all__ = [
    "documents_schema",
    "ingest_report",
    "read_csv",
    "read_jsonl",
    "read_kafka_stream",
    "read_kafka_batch",
    "write_kafka_stream",
    "kafka_available",
    "to_wire",
    "from_wire",
    "read_json_stream",
    "read_warc",
    "read_warc_manifest",
    "warc_ingest_report",
    "warc_to_documents",
]
