"""The MyStream variant: the same domain pipeline decoupled into stages that
communicate only through named, durable seams.

Reference (src/main/java/org/davkaev/MyStream.java:35-199): three
sub-pipelines wired through intermediate topics ``weather_hash_date``
(rekeyed observations) and ``weather_hash`` (dated averages), ending in a
KTable–KTable left join onto addresses. In Spark a seam is any replayable
sink/source pair; these helpers use parquet directories (the batch/test
realization — swap for Kafka topics via sources/kafka.py in production).
Keeping the seams materialized preserves the reference's operational
property: every stage is independently restartable and its intermediate
stream is inspectable.

foreachBatch variant: `rollup_via_foreach_batch` is mitigation (b) from
SURVEY §7.4.1 — per micro-batch, merge the batch's partial sums and
per-field counts into a durable state table, then publish the recomputed
rollup.
Its exactly-once protocol is the versioned-state driver in
``streaming/state.py``, whose module docstring describes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geohash import geohash_expr
from ..operators.weather import (
    GEOHASH_PRECISION,
    enrich_hotels,
    hotels_rekey,
    latest_per_key,
    per_date_avgs,
    weather_by_geohash,
    weather_daily_avg,
    weather_rekey,
)
from .state import StateLayout, run_versioned_state

# ``counts`` names the state's count scheme: a meta written before the
# per-field counts reads it as None, so such a state is refused.
_ROLLUP = StateLayout(
    "rollup", "state_v", "rollup state", "rollup_meta",
    "precision int, counts string",
)


def stage1_rekey(spark: SparkSession, weather_raw: DataFrame, seam_dir: str) -> str:
    """MyStream stage 1 (MyStream.java:92-110): rekey raw weather by geohash
    and publish to the ``weather_hash_date`` seam."""
    out = f"{seam_dir}/weather_hash_date"
    weather_rekey(weather_raw).write.mode("overwrite").parquet(out)
    return out


def stage2_daily_avg(spark: SparkSession, seam_dir: str) -> str:
    """MyStream stage 2 (MyStream.java:115-129): consume the rekeyed seam,
    maintain per-(geohash, date) averages, publish to ``weather_hash``."""
    src = spark.read.parquet(f"{seam_dir}/weather_hash_date")
    out = f"{seam_dir}/weather_hash"
    weather_daily_avg(src).write.mode("overwrite").parquet(out)
    return out


def stage3_enrich(
    spark: SparkSession, hotels_raw: DataFrame, seam_dir: str, how: str = "left"
) -> DataFrame:
    """MyStream stage 3 (MyStream.java:148-175): addresses as a
    latest-per-key table, left-joined with the per-geohash weather rollup
    (KTable–KTable leftJoin, MyStream.java:168-173)."""
    daily = spark.read.parquet(f"{seam_dir}/weather_hash")
    rollup = weather_by_geohash(daily)
    hotels = hotels_rekey(hotels_raw)
    # KTable semantics on the address stream: latest record per hash
    hotels_tbl = latest_per_key(
        hotels.withColumn("_seq", F.monotonically_increasing_id()), "hash", "_seq"
    ).drop("_seq")
    return enrich_hotels(hotels_tbl, rollup, how=how)


def run_decoupled_pipeline(
    spark: SparkSession,
    weather_raw: DataFrame,
    hotels_raw: DataFrame,
    seam_dir: str,
    how: str = "left",
) -> DataFrame:
    """All three stages, each reading only its upstream seam."""
    stage1_rekey(spark, weather_raw, seam_dir)
    stage2_daily_avg(spark, seam_dir)
    return stage3_enrich(spark, hotels_raw, seam_dir, how)


def enrich_continuous_left(
    weather_stream: DataFrame,
    hotels_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Continuous (single always-on query) form of the decoupled topology's
    KTable–KTable left join (MyStream.java:168-173).

    Spark cannot preserve the missing-match side of a continuous
    stream-static left join, so the continuous realization is the documented
    multiple-stateful-operators pattern: a per-(event-time window, geohash)
    weather aggregation and a per-(window, hash) latest-address aggregation
    — both append mode — joined stream–stream left-outer on window equality.
    A hotel whose window closes with no weather in its cell emits exactly
    once with an EMPTY weather list (the ``Address.addWeathers`` null-guard,
    domain/Address.java:37-41) once the watermark passes.

    Semantics vs the reference: the reference's KTable join re-emits a hotel
    every time its cell's all-time rollup changes; Spark's append-mode join
    emits one final row per (hotel, window) — i.e. the continuously-updated
    table is tiled into event-time windows (``window_duration``). Within a
    window the weather list is identical to the batch rollup restricted to
    that window's records. The batch path (``run_decoupled_pipeline``) and
    the foreachBatch path (``rollup_via_foreach_batch``) provide the
    all-time-accumulating forms.

    Inputs are typed streams each carrying an event-time ``ts`` column:
    weather (ts, lat, lng, wthr_date, avg_tmpr_f, avg_tmpr_c) and addresses
    (ts, Id, Name, Country, City, Address, Latitude, Longitude, Hash).
    """
    keyed = weather_stream.withWatermark("ts", watermark).select(
        "ts",
        geohash_expr(F.col("lat"), F.col("lng"), GEOHASH_PRECISION).alias("geohash"),
        "wthr_date",
        F.col("avg_tmpr_f").alias("tmp_f"),
        F.col("avg_tmpr_c").alias("tmp_c"),
    )
    weather_win = (
        keyed.groupBy(F.window("ts", window_duration).alias("w_win"), "geohash")
        .agg(F.collect_list(F.struct("wthr_date", "tmp_f", "tmp_c")).alias("_rows"))
        .select("w_win", "geohash", per_date_avgs(F.col("_rows")).alias("weatherList"))
    )

    payload = ["country", "city", "address", "name", "id"]
    hk = hotels_stream.withWatermark("ts", watermark).select(
        "ts",
        F.col("Hash").alias("hash"),
        F.col("Country").alias("country"),
        F.col("City").alias("city"),
        F.col("Address").alias("address"),
        F.col("Name").alias("name"),
        F.col("Id").alias("id"),
    )
    # KTable latest-per-key semantics within each window (MyStream.java:166)
    hotels_win = (
        hk.groupBy(F.window("ts", window_duration).alias("h_win"), "hash")
        .agg(F.max_by(F.struct(*payload), F.col("ts")).alias("_latest"))
        .select("h_win", "hash", *[F.col(f"_latest.{c}").alias(c) for c in payload])
    )

    joined = hotels_win.join(
        weather_win,
        (F.col("h_win") == F.col("w_win")) & (F.col("hash") == F.col("geohash")),
        "left_outer",
    )
    empty = F.array().cast(joined.schema["weatherList"].dataType)
    return joined.select(
        "hash",
        *payload,
        F.col("h_win").alias("window"),
        F.coalesce(F.col("weatherList"), empty).alias("avgWeathers"),
    )


def rollup_via_foreach_batch(
    weather_raw_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    precision: int = 4,
):
    """Two-level stateful aggregation via foreachBatch (SURVEY §7.4.1(b)).

    Each micro-batch computes its own per-(geohash, date) partial sums
    and counts, one count per temperature field so that a mean skips
    nulls as ``F.avg`` does. It merges them into a durable parquet state
    table, versioned by batch id (``state_v{N}`` holds the full state
    after batch N). The driver in ``streaming/state.py`` makes the merge
    exactly-once: a redelivered batch skips the merge and only
    republishes the rollup, which covers a crash between the state write
    and the rollup write. The state dir is bound to ``checkpoint_dir``,
    and ``precision`` is its meta (``rollup_meta``): cells of a
    different precision must not merge into one state, so a mismatch
    raises. A state written with one shared count per cell-day is
    refused the same way.

    Heavier I/O than ``weather_rollup_stream``'s streaming aggregation,
    but its state is bounded by cells x dates (one row of sums and
    counts per cell-day), where the streaming aggregation keeps every
    observation.

    Returns the StreamingQuery; the current rollup lives at
    ``{state_dir}/rollup`` (geohash, weatherList).
    """
    keys = ("geohash", "wthr_date")

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        partial = batch_df.groupBy(*keys).agg(
            *(F.sum(f"tmp_{u}").alias(f"sum_{u}") for u in "fc"),
            *(F.count(f"tmp_{u}").alias(f"cnt_{u}") for u in "fc"),
        )
        if prev is None:
            return partial
        return partial.unionByName(prev).groupBy(*keys).agg(
            *(F.sum(c).alias(c) for c in ("sum_f", "sum_c", "cnt_f", "cnt_c"))
        )

    def publish(state: DataFrame) -> None:
        # a field with no value has a null sum, so its mean is null
        daily = state.select(
            *keys,
            *((F.col(f"sum_{u}") / F.col(f"cnt_{u}")).alias(f"tmp_{u}") for u in "fc"),
        )
        weather_by_geohash(daily).write.mode("overwrite").parquet(f"{state_dir}/rollup")

    return run_versioned_state(
        weather_rekey(weather_raw_stream, precision),
        state_dir,
        checkpoint_dir,
        _ROLLUP,
        merge,
        {"precision": precision, "counts": "per_field"},
        publish,
    )
