"""Kafka source/sink wrappers (S1-S3).

The reference consumes/produces Kafka topics directly
(WeatherHotelsApp.java:49-52,59-64 — ``builder.stream(topic)`` / ``.to(topic)``);
Spark's equivalents are ``format("kafka")`` reads/writes. These wrappers add
the engine's conventions: value-as-string projection, keyed writes, and
checkpoint management.

The spark-sql-kafka connector jar is a separate artifact not bundled with
pyspark; ``kafka_available`` probes for it so tests and local runs degrade
to file/rate/memory sources (the streaming tests use those — same
DataFrame-level topology, different boundary, exactly like the reference's
TopologyTestDriver swaps brokers out, WeatherStreamsTest.java:57).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_available(spark: SparkSession) -> bool:
    """True if the kafka connector is on the classpath."""
    try:
        spark.readStream.format("kafka").option("subscribe", "x").option(
            "kafka.bootstrap.servers", "localhost:9092"
        ).load()
        return True
    except Exception as ex:  # noqa: BLE001
        return "Failed to find data source: kafka" not in str(ex)


def _read_kafka(reader, topic: str, bootstrap_servers: str) -> DataFrame:
    """``reader`` subscribed to ``topic`` from its earliest offset; key and
    value as strings (the reference's ``Consumed.with(keySerde,
    Serdes.String())``) next to the record's topic/partition/offset/time."""
    raw = (
        reader.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic",
        "partition",
        "offset",
        "timestamp",
    )


def read_kafka_stream(
    spark: SparkSession, topic: str, bootstrap_servers: str = "localhost:9092"
) -> DataFrame:
    """S1: streaming read of a topic."""
    return _read_kafka(spark.readStream, topic, bootstrap_servers)


def read_kafka_batch(
    spark: SparkSession, topic: str, bootstrap_servers: str = "localhost:9092"
) -> DataFrame:
    """Batch twin of S1 (bounded reprocessing of a topic, up to its latest
    offset)."""
    return _read_kafka(
        spark.read.option("endingOffsets", "latest"), topic, bootstrap_servers
    )


def to_wire(
    df: DataFrame,
    key_col: str | None = None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Project rows into the exact Kafka wire layout the reference produces
    (``Produced.with(keySerde, valueSerde)`` — WeatherHotelsApp.java:52,64):

    - ``key``: UTF-8 bytes of the key string (``Serdes.String()``), absent if
      no key column is given;
    - ``value``: UTF-8 JSON bytes of the selected columns in order
      (``PojoSerializer`` = Jackson ``writeValueAsBytes``,
      serdes/PojoSerializer.java:24-33); a null struct input serializes to a
      null value, matching the serializer's ``data == null -> null`` branch.

    Both columns are ``binary``, the type the Kafka sink sends verbatim —
    so this projection IS the byte contract, testable through any seam.
    """
    cols = value_cols or [c for c in df.columns if c != key_col]
    return df.select(
        *(
            [F.encode(F.col(key_col).cast("string"), "UTF-8").alias("key")]
            if key_col
            else []
        ),
        F.encode(
            F.to_json(F.struct(*[F.col(c) for c in cols])), "UTF-8"
        ).alias("value"),
    )


def from_wire(df: DataFrame, value_schema) -> DataFrame:
    """Inverse of :func:`to_wire`: decode wire bytes back into typed columns.

    Mirrors the reference's consumer side (``Consumed.with(keySerde,
    valueSerde)`` + ``PojoDeserializer``, serdes/PojoDeserializer.java:28-40):
    the key bytes decode as a UTF-8 string, the value bytes parse as JSON
    against ``value_schema``. Leniency matches Jackson configured with
    ``FAIL_ON_UNKNOWN_PROPERTIES=false``: unknown JSON fields are ignored,
    and malformed values yield nulls (PERMISSIVE) rather than failing the
    stream. Null value bytes stay null (tombstone pass-through).
    """
    parsed = df.select(
        F.decode(F.col("key"), "UTF-8").alias("key"),
        F.from_json(F.decode(F.col("value"), "UTF-8"), value_schema).alias("v"),
    )
    return parsed.select("key", "v.*")


def write_kafka_stream(
    df: DataFrame,
    topic: str,
    checkpoint_dir: str,
    key_col: str | None = None,
    value_cols: list[str] | None = None,
    bootstrap_servers: str = "localhost:9092",
    trigger_available_now: bool = False,
):
    """S3: keyed JSON write to a topic (``Produced.with(keySerde, valueSerde)``
    — WeatherHotelsApp.java:52,64), in update mode: the rollup changelog
    the reference's KTable emits. The byte layout is :func:`to_wire` —
    behaviorally pinned by ``tests/test_kafka_contract.py`` through the file
    seam (no broker exists in this container); returns the StreamingQuery."""
    out = to_wire(df, key_col=key_col, value_cols=value_cols)
    writer = (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
