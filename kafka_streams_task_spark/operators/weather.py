"""The reference's weather-hotels pipeline, re-expressed as composable
DataFrame operators.

Reference topology (src/main/java/org/davkaev/WeatherHotelsApp.java:46-66):
raw weather JSON -> rekey by geohash(lat,lng,4) + date -> per-(geohash,date)
aggregate -> average -> regroup by geohash -> per-geohash list of daily
averages -> inner join onto hotels keyed by their own 4-char geohash ->
enriched hotel records.

Spark-first design decisions (SURVEY.md §2, §7):
  * Two real key columns (geohash, wthr_date) instead of the reference's
    packed "{geohash}_{date}" string key (WeatherHotelsApp.java:73,80 packs,
    :105 splits back). Real columns let Catalyst prune/push and make the
    second-level groupBy a plain column reference.
  * A2+A3 (collect list, then mean over it — WeatherHotelsApp.java:94-104,
    domain/WeatherAgg.java:35-39) collapse to ``avg()``: partial+final
    hash aggregation, no list state. Numerically the (sum,count) form of the
    same mean.
  * A5's adder+subtractor delta maintenance (WeatherHotelsApp.java:106-109,
    domain/WeatherAgg.java:17-25) is not needed: batch recomputes from
    inputs; streaming replaces per-key state.
  * J1 (WeatherHotelsApp.java:134-142) is an inner equi-join; the hotel dim
    is small relative to weather, so the rollup side joins broadcast when it
    fits — at 100 TB of weather the per-geohash rollup is at most
    32^4 = ~1M rows and always broadcastable.

Each operator takes and returns DataFrames, so the same functions serve the
batch path and (with streaming inputs) the Structured Streaming path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geohash import geohash_expr
from ..schemas import HOTELS_RAW, WEATHER_RAW

GEOHASH_PRECISION = 4  # reference: WeatherHotelsApp.java:77


def parse_weather(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S7/P3: parse raw weather JSON strings; drop malformed records.

    Reference parses with ObjectMapper.readTree and returns null on failure
    (WeatherHotelsApp.java:72-86); ``from_json`` PERMISSIVE + null-filter is
    the Spark realization of the same drop-malformed intent (SURVEY §1.3.2).
    """
    return (
        raw.select(F.from_json(F.col(value_col), WEATHER_RAW).alias("w"))
        .filter(F.col("w").isNotNull() & F.col("w.lat").isNotNull() & F.col("w.lng").isNotNull())
        .select("w.*")
    )


def parse_hotels(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S7/P3 for the address stream (WeatherHotelsApp.java:116-130)."""
    return (
        raw.select(F.from_json(F.col(value_col), HOTELS_RAW).alias("a"))
        .filter(F.col("a").isNotNull() & F.col("a.Hash").isNotNull())
        .select("a.*")
    )


def weather_rekey(weather: DataFrame, precision: int = GEOHASH_PRECISION) -> DataFrame:
    """P1: project raw weather to (geohash, wthr_date, tmp_f, tmp_c).

    Reference: map to key "{geohash}_{date}", value Weather(tmp_f,tmp_c,date)
    (WeatherHotelsApp.java:68-88). Two real key columns here; geohash is the
    codegen-native expression, so this projection never leaves the JVM.

    opt-r16: the geohash key is wrapped in :func:`~..schemas.no_pushdown`
    — the downstream inner enrichment join infers ``isnotnull(geohash)``
    and would otherwise sink it below this projection with the geohash
    chain (and, upstream, the whole JSON parse) substituted in, running
    both twice per row (guide §4.4).
    """
    from ..schemas import no_pushdown

    return weather.select(
        no_pushdown(geohash_expr(F.col("lat"), F.col("lng"), precision)).alias(
            "geohash"
        ),
        F.col("wthr_date"),
        F.col("avg_tmpr_f").alias("tmp_f"),
        F.col("avg_tmpr_c").alias("tmp_c"),
    )


def hotels_rekey(hotels: DataFrame) -> DataFrame:
    """P2: project raw address records, keyed by their Hash column; drops
    Latitude/Longitude exactly like the reference
    (WeatherHotelsApp.java:112-132 parses then discards them)."""
    return hotels.select(
        F.col("Hash").alias("hash"),
        F.col("Country").alias("country"),
        F.col("City").alias("city"),
        F.col("Address").alias("address"),
        F.col("Name").alias("name"),
        F.col("Id").alias("id"),
    )


def weather_daily_avg(keyed: DataFrame) -> DataFrame:
    """A1-A3: per-(geohash, date) mean temperature.

    Reference folds each record into a list then averages the list
    (WeatherHotelsApp.java:91-104, domain/WeatherAgg.java:35-39); ``avg()``
    is the (sum,count) formulation — partial aggregation map-side, one
    shuffle on (geohash, wthr_date).
    """
    return keyed.groupBy("geohash", "wthr_date").agg(
        F.avg("tmp_f").alias("tmp_f"),
        F.avg("tmp_c").alias("tmp_c"),
    )


def weather_by_geohash(daily: DataFrame) -> DataFrame:
    """A4-A5: roll daily averages up into a per-geohash list.

    Reference regroups the KTable by the geohash prefix of the packed key and
    maintains the list with adder+subtractor (WeatherHotelsApp.java:105-109).
    Here: second groupBy + collect_list. The list is sorted by date for
    deterministic output (the reference's list order is arrival order —
    nondeterministic under repartitioning; sorting is the engine's
    well-defined replacement).
    """
    # sort by date: build (date-first) structs, sort, then reshape
    lst = F.array_sort(
        F.collect_list(F.struct(F.col("wthr_date").alias("date"), F.col("tmp_f"), F.col("tmp_c")))
    )
    lst = F.transform(lst, lambda s: F.struct(s["tmp_f"].alias("tmp_f"), s["tmp_c"].alias("tmp_c"), s["date"].alias("date")))
    return daily.groupBy("geohash").agg(lst.alias("weatherList"))


def per_date_avgs(rows: Column) -> Column:
    """A1-A5 as one expression: the date-sorted list of per-date
    (tmp_f, tmp_c) means over a collected array of (wthr_date, tmp_f,
    tmp_c) structs.

    This is ``weather_by_geohash(weather_daily_avg(...))`` evaluated
    inside a single groupBy's post-aggregation projection, so a stream
    needs only one stateful aggregation (``collect_list`` of the rows).
    Each mean follows ``F.avg``: nulls are skipped per field, and a field
    with no non-null value on a date is null. Dates compare null-safely
    and the list is sorted as ``weather_by_geohash`` sorts it.
    """
    zero = F.struct(
        F.lit(0.0).alias("sf"), F.lit(0).cast("long").alias("nf"),
        F.lit(0.0).alias("sc"), F.lit(0).cast("long").alias("nc"),
    )

    def add(acc: Column, r: Column) -> Column:
        return F.struct(
            (acc["sf"] + F.coalesce(r["tmp_f"], F.lit(0.0))).alias("sf"),
            (acc["nf"] + r["tmp_f"].isNotNull().cast("long")).alias("nf"),
            (acc["sc"] + F.coalesce(r["tmp_c"], F.lit(0.0))).alias("sc"),
            (acc["nc"] + r["tmp_c"].isNotNull().cast("long")).alias("nc"),
        )

    def day(d: Column) -> Column:
        # date first, so array_sort orders the days exactly as
        # weather_by_geohash orders its (date, tmp_f, tmp_c) structs
        return F.aggregate(
            F.filter(rows, lambda r: r["wthr_date"].eqNullSafe(d)),
            zero,
            add,
            lambda a: F.struct(
                d.alias("date"),
                F.when(a["nf"] > 0, a["sf"] / a["nf"]).alias("tmp_f"),
                F.when(a["nc"] > 0, a["sc"] / a["nc"]).alias("tmp_c"),
            ),
        )

    days = F.array_sort(
        F.transform(F.array_distinct(F.transform(rows, lambda r: r["wthr_date"])), day)
    )
    return F.transform(
        days,
        lambda s: F.struct(s["tmp_f"].alias("tmp_f"), s["tmp_c"].alias("tmp_c"), s["date"].alias("date")),
    )


def enrich_hotels(hotels_keyed: DataFrame, by_geohash: DataFrame, how: str = "inner") -> DataFrame:
    """J1 (inner) / J2 (left): join per-geohash weather onto hotels.

    Reference J1: KStream.join(KTable) (WeatherHotelsApp.java:134-142);
    J2: KTable.leftJoin (MyStream.java:168-173) with null-safe append
    (domain/Address.java:37-41) — a left join whose missing side yields an
    empty list.

    The rollup side is bounded by geohash cardinality (32^precision), so we
    broadcast it — no shuffle of the (potentially huge) hotel stream.
    """
    joined = hotels_keyed.join(
        F.broadcast(by_geohash.withColumnRenamed("geohash", "hash")),
        on="hash",
        how=how,
    )
    if how == "left":
        # Address.addWeathers null-guard (domain/Address.java:37-41): absent
        # weather -> empty list, not null.
        joined = joined.withColumn(
            "weatherList",
            F.coalesce(F.col("weatherList"), F.array().cast(joined.schema["weatherList"].dataType)),
        )
    return joined.withColumnRenamed("weatherList", "avgWeathers")


def weather_hotels_pipeline(
    weather_raw: DataFrame, hotels_raw: DataFrame, how: str = "inner"
) -> DataFrame:
    """The full canonical topology (WeatherHotelsApp.getStreamingAppTopology,
    WeatherHotelsApp.java:46-66) as one lazily-planned DAG over typed
    frames; Kafka ``value`` frames go through ``parse_weather`` /
    ``parse_hotels`` first.
    """
    keyed = weather_rekey(weather_raw)
    daily = weather_daily_avg(keyed)
    rollup = weather_by_geohash(daily)
    return enrich_hotels(hotels_rekey(hotels_raw), rollup, how=how)


def latest_per_key(df: DataFrame, keys: list[str] | str, order_col: str | Column) -> DataFrame:
    """A6: changelog-table view — latest record per key (KStream.toTable,
    MyStream.java:166-168): ``max_by(struct(*), order)`` per key, one hash
    aggregation (no window sort, no second shuffle), the same plan in batch
    and on a stream (a JVM stateful aggregation; run it in ``update`` output
    mode for a changelog stream).

    On a stream, two things differ from the reference's per-record KTable:
    each micro-batch emits every key the batch touched, even when a stale
    record left its latest value unchanged; and on equal order values the
    value already in state is kept (``max_by`` replaces only on a strictly
    greater order)."""
    if isinstance(keys, str):
        keys = [keys]
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    payload = [c for c in df.columns if c not in keys]
    agg = df.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), order).alias("_latest")
    )
    return agg.select(*keys, *[F.col(f"_latest.{c}").alias(c) for c in payload])
