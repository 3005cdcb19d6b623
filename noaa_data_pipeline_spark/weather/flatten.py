"""DWML time-layout flattening as one declarative Spark plan.

The reference flattens NOAA DWML forecasts procedurally
(daemon/src/domains/forecasts/download_forecast.rs:316-571): build a
3-hour grid per location for one week, then for every parameter
series walk the grid carrying a mutable ``prev`` value forward —
each grid row takes the series value of the latest time-layout range
whose start <= row.begin_time (an as-of lookup, :573-589), falling
back to the carried value when the range has no parseable value.

Key observation for the Spark version: "as-of lookup + carry prev
forward" collapses into a single window expression. The filled value
at grid time t is exactly the last *parseable* reading whose layout
start time <= t, in (start_time, series order) order. So:

    union(grid rows, reading rows)
      -> last(parsed_value, ignorenulls) over
         (partition by location, field; order by time, kind, series)
      -> keep grid rows; pivot fields to columns

One shuffle on (location_key, field), no Python, no per-row state.

Inputs mirror the parsed-XML relational shape (the XML -> rows step
itself is a driver-side parse, SURVEY §2 S4):

- layouts:  (layout_key, seq, start_time)       — xml_forecast.rs:109-148
- readings: (location_key, field, layout_key, seq, raw_value)
- locations:(location_key, latitude, longitude) — 2dp strings as in DWML
- stations: (station_id, station_name, latitude, longitude) doubles
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .schemas import (
    UNIT_DEGREES,
    UNIT_FAHRENHEIT,
    UNIT_INCHES,
    UNIT_KNOTS,
    UNIT_PERCENT,
    utc_lit,
)

GRID_STEP_HOURS = 3
HORIZON_DAYS = 7

# field name (= output column) -> Spark cast type
FIELDS: dict[str, str] = {
    "max_temp": "long",
    "min_temp": "long",
    "wind_speed": "long",
    "wind_direction": "long",
    "relative_humidity_max": "long",
    "relative_humidity_min": "long",
    "liquid_precipitation_amt": "double",
    "twelve_hour_probability_of_precipitation": "long",
}

UNIT_COLS = {
    "temperature_unit_code": UNIT_FAHRENHEIT,
    "wind_speed_unit_code": UNIT_KNOTS,
    "wind_direction_unit_code": UNIT_DEGREES,
    "relative_humidity_unit_code": UNIT_PERCENT,
    "liquid_precipitation_unit_code": UNIT_INCHES,
    "twelve_hour_probability_of_precipitation_unit_code": UNIT_PERCENT,
}


def three_hour_grid(locations: DataFrame, now: dt.datetime) -> DataFrame:
    """W3: (location_key, begin_time, end_time) — every 3h slot from
    ``now`` through one week out, inclusive (download_forecast.rs:792-829).
    Scale: sequence+explode over the (small) location dimension; the
    57-slot fan-out happens after any location-level pruning."""
    start = utc_lit(now)
    end = utc_lit(now + dt.timedelta(days=HORIZON_DAYS))
    return locations.select(
        "location_key",
        F.explode(
            F.sequence(start, end, F.expr(f"interval {GRID_STEP_HOURS} hours"))
        ).alias("begin_time"),
    ).withColumn("end_time", F.col("begin_time") + F.expr(f"interval {GRID_STEP_HOURS} hours"))


def align_and_fill(
    grid: DataFrame, layouts: DataFrame, readings: DataFrame
) -> DataFrame:
    """W1+W2: per (location, field), align each grid row to the
    latest layout range started at-or-before it and carry the last
    parseable value forward.

    Returns (location_key, begin_time, end_time, field, value) with
    value as string (typed casts happen in :func:`flatten_forecasts`).
    """
    timed = (
        readings.join(layouts, ["layout_key", "seq"])
        .select(
            "location_key",
            "field",
            F.col("start_time").alias("t"),
            # unparseable/missing values stay NULL so last(ignorenulls)
            # skips them — the reference's "fall back to prev" branch
            F.col("raw_value").alias("v"),
            F.lit(0).alias("is_grid"),
            # deterministic series tiebreak at equal start times:
            # (layout_key, seq) is carried from the parsed input, so
            # the winner never depends on partition layout (a
            # monotonically_increasing_id here would make exact-tie
            # results flip with parallelism/file splits)
            F.col("layout_key").alias("series_key"),
            F.col("seq").alias("series_seq"),
        )
    )
    grid_rows = grid.select(
        "location_key",
        F.col("begin_time").alias("t"),
        F.lit(None).cast("string").alias("v"),
        F.lit(1).alias("is_grid"),
        F.lit(None).cast("string").alias("series_key"),
        F.lit(None).cast("long").alias("series_seq"),
        "begin_time",
        "end_time",
    )
    fields = timed.select("field").distinct()
    grid_by_field = grid_rows.join(fields, how="cross")
    unioned = timed.select(
        "location_key",
        "field",
        "t",
        "v",
        "is_grid",
        "series_key",
        "series_seq",
        F.lit(None).cast("timestamp").alias("begin_time"),
        F.lit(None).cast("timestamp").alias("end_time"),
    ).unionByName(grid_by_field)
    # readings sort before the grid row at the same instant (is_grid
    # 0 < 1): a range starting exactly at t applies to t, matching the
    # reference's `start_time <= begin_time` comparison; later series
    # (higher layout_key, then seq) overwrite earlier ones at equal
    # times deterministically
    w = (
        Window.partitionBy("location_key", "field")
        .orderBy("t", "is_grid", "series_key", "series_seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        "location_key",
        "field",
        "is_grid",
        "begin_time",
        "end_time",
        F.last("v", ignorenulls=True).over(w).alias("value"),
    )
    return filled.filter(F.col("is_grid") == 1).select(
        "location_key", "begin_time", "end_time", "field", "value"
    )


def attach_station_ids(locations: DataFrame, stations: DataFrame) -> DataFrame:
    """J7/F8: DWML reports coordinates as 2-decimal strings; the
    station index holds doubles. Join on the 2dp-formatted form
    (download_forecast.rs:831-863, coordinates.rs:39-46). Scale: the
    station index broadcasts."""
    fmt = lambda c: F.format_number(F.col(c).cast("double"), 2)  # noqa: E731
    st = stations.select(
        "station_id",
        "station_name",
        F.col("latitude").alias("st_lat"),
        F.col("longitude").alias("st_lon"),
    )
    return locations.join(
        F.broadcast(st),
        (fmt("latitude") == fmt("st_lat")) & (fmt("longitude") == fmt("st_lon")),
        "inner",  # locations without a station are dropped (:402-410)
    ).select(
        "location_key",
        "station_id",
        "station_name",
        F.col("latitude").cast("double").alias("latitude"),
        F.col("longitude").cast("double").alias("longitude"),
    )


def flatten_forecasts(
    spark: SparkSession,
    locations: DataFrame,
    stations: DataFrame,
    layouts: DataFrame,
    readings: DataFrame,
    now: dt.datetime,
    generated_at: dt.datetime,
) -> DataFrame:
    """Full DWML flatten: grid x as-of x forward-fill x coordinate
    join, producing rows in the FORECAST_SCHEMA shape."""
    grid = three_hour_grid(locations, now)
    long_vals = align_and_fill(grid, layouts, readings)
    # an explicit pivot value list yields every field column, parsed
    # or not
    pivoted = long_vals.groupBy("location_key", "begin_time", "end_time").pivot(
        "field", list(FIELDS)
    ).agg(F.first("value"))
    out = pivoted.join(attach_station_ids(locations, stations), "location_key")
    return out.select(
        "station_id",
        "station_name",
        "latitude",
        "longitude",
        utc_lit(generated_at).alias("generated_at"),
        "begin_time",
        "end_time",
        *[F.col(field).cast(typ).alias(field) for field, typ in FIELDS.items()],
        *[F.lit(unit).alias(col) for col, unit in UNIT_COLS.items()],
    )
