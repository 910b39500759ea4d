"""The canonical weather-hotels topology as Structured Streaming.

Reference (WeatherHotelsApp.java:46-66): weather stream -> rekey by
geohash -> per-(geohash,date) aggregate -> per-geohash rollup KTable ->
join onto hotels -> output. The chained stateful aggregation (A2/A3 -> A5)
cannot run as two chained streaming aggregations in update mode without
watermarks (SURVEY §7.4.1). The engine runs it as ONE JVM update-mode
aggregation keyed by geohash: the state is each cell's
``collect_list`` of (wthr_date, tmp_f, tmp_c) observations, and a
post-aggregation projection (``operators.weather.per_date_avgs``)
folds that list into the date-sorted per-date means. Both aggregation
levels come out of one stateful operator, and no row leaves the JVM.
Each micro-batch emits the full current weatherList of every cell it
touched: the reference's continuously-updated KTable at micro-batch
granularity.

State bound: one state row per geohash cell, but a row holds every
observation the cell has received, so state grows with the number of
observations per cell, not with cells x dates as the reference's RocksDB
stores do (WeatherHotelsApp.java:99,109). A per-(cell, date)
(sum, count) state is what ``decoupled.rollup_via_foreach_batch`` keeps.
Checkpoints written by the earlier pandas grouped-map rollup operator
cannot be resumed by this operator: the state schema differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.weather import hotels_rekey, per_date_avgs, weather_rekey


def weather_rollup_stream(weather_raw_stream: DataFrame) -> DataFrame:
    """A1-A5 on a stream: rekey, then one stateful aggregation per cell.

    Input: streaming DataFrame with the raw weather schema (lat, lng,
    wthr_date, avg_tmpr_f, avg_tmpr_c). Output (update mode): one row per
    updated geohash per micro-batch carrying the complete current
    weatherList — the changelog of the reference's per-geohash KTable.
    Means skip null temperatures per field, as the batch path's ``avg``
    does.

    State holds one row per cell whose size grows with the cell's
    observation count (every (wthr_date, tmp_f, tmp_c) it has received),
    and each batch re-folds the whole list of every touched cell.
    """
    keyed = weather_rekey(weather_raw_stream)
    return keyed.groupBy("geohash").agg(
        per_date_avgs(F.collect_list(F.struct("wthr_date", "tmp_f", "tmp_c"))).alias(
            "weatherList"
        )
    )


def weather_hotels_stream(
    weather_raw_stream: DataFrame, hotels_static: DataFrame
) -> DataFrame:
    """J1 on a stream: the rollup changelog stream joined onto the hotel
    dimension (stream-static inner equi-join; the static side is broadcast).

    ``hotels_static`` carries the raw address schema (Id, Name, ..., Hash).
    Output: enriched hotel rows, re-emitted whenever their cell's weather
    updates — the reference's output topic semantics
    (WeatherHotelsApp.java:64) at micro-batch cadence.

    J2's left variant (emit weatherless hotels too, MyStream.java:168-173)
    needs the static side preserved — not expressible as a continuous
    stream-static join; use the batch ``enrich_hotels(..., how="left")``,
    a foreachBatch wrapper, or the continuous stream–stream form
    (``streaming/decoupled.py: enrich_continuous_left``) for that topology.
    """
    rollup = weather_rollup_stream(weather_raw_stream)
    hotels = hotels_rekey(hotels_static)
    joined = rollup.withColumnRenamed("geohash", "hash").join(
        F.broadcast(hotels), on="hash", how="inner"
    )
    return joined.select(
        "hash", "country", "city", "address", "name", "id",
        F.col("weatherList").alias("avgWeathers"),
    )
