"""The reference's three weather read queries as Catalyst plans.

Semantics mirror oracle/src/db/weather_data.rs exactly:

- ``forecasts_daily`` — the two-level rollup A1 (:92-146) with the
  P2 station filter, P3 day-truncated time range, and P4 "widen the
  scan start one day back" behavior.
- ``observations_daily`` — the per-station aggregate A2 (:172-211).
- ``stations`` — the 4-column GROUP-BY dedup A3 (:224-246).

Scale: each is a partition-pruned scan + hash aggregate; the
two-level rollup keeps the same leading group keys at both levels
(``keys``, then station_id) so both levels hash-partition the same
way and AQE coalesces the second shuffle away. The batch ETL
(run.run_etl_batch) reuses both rollups with event-keyed ``keys``,
so the A1/A2 aggregate lists live only here.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import utc_lit


def forecasts_daily(
    forecasts: DataFrame,
    station_ids: list[str] | None = None,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Daily forecast rollup, two levels (weather_data.rs:92-146).

    Level 1 groups by (*keys, station_id, begin_time) to collapse the
    many hourly snapshot files that re-report the same forecast
    interval; level 2 rolls the deduped intervals up to the day. The
    date is a DATE_TRUNC of begin_time rendered as text, exactly like
    the reference's ``date`` column. ``keys`` lead both groupings; the
    batch ETL passes ("event_id", "observation_date") to roll up every
    event's window in one plan.
    """
    df = forecasts
    if station_ids:
        df = df.filter(F.col("station_id").isin(station_ids))
    if start is not None:
        df = df.filter(
            F.date_trunc("day", F.col("begin_time")) >= utc_lit(start)
        )
    if end is not None:
        df = df.filter(
            F.date_trunc("day", F.col("end_time")) <= utc_lit(end)
        )
    per_interval = df.groupBy(*keys, "station_id", "begin_time").agg(
        F.date_format(F.date_trunc("day", F.col("begin_time")), "yyyy-MM-dd").alias("date"),
        F.min("begin_time").alias("start_time"),
        F.max("end_time").alias("end_time"),
        F.min("min_temp").alias("temp_low"),
        F.max("max_temp").alias("temp_high"),
        F.max("wind_speed").alias("wind_speed"),
    )
    return per_interval.groupBy(*keys, "station_id", "date").agg(
        F.min("start_time").alias("start_time"),
        F.max("end_time").alias("end_time"),
        F.min("temp_low").alias("temp_low"),
        F.max("temp_high").alias("temp_high"),
        F.max("wind_speed").alias("wind_speed"),
    )


def scan_start_widened(start: dt.datetime | None) -> dt.datetime | None:
    """P4: the lake scan starts one day before the requested start so
    the forecast generated the previous day participates
    (weather_data.rs:78-84)."""
    return None if start is None else start - dt.timedelta(days=1)


def observations_daily(
    observations: DataFrame,
    station_ids: list[str] | None = None,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Per-station observation aggregate over a generated_at range
    (weather_data.rs:172-211); ``keys`` lead the grouping (the batch
    ETL passes ("event_id",))."""
    df = observations
    if station_ids:
        df = df.filter(F.col("station_id").isin(station_ids))
    if start is not None:
        df = df.filter(F.col("generated_at") >= utc_lit(start))
    if end is not None:
        df = df.filter(F.col("generated_at") <= utc_lit(end))
    return df.groupBy(*keys, "station_id").agg(
        F.min("generated_at").alias("start_time"),
        F.max("generated_at").alias("end_time"),
        F.min("temperature_value").alias("temp_low"),
        F.max("temperature_value").alias("temp_high"),
        F.max("wind_speed").alias("wind_speed"),
    )


def stations(observations: DataFrame) -> DataFrame:
    """Station list via 4-column dedup over recent observations
    (weather_data.rs:224-246)."""
    return observations.select(
        "station_id", "station_name", "latitude", "longitude"
    ).distinct()
