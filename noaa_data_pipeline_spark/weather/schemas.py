"""Explicit write-path schemas for the weather lake.

Mirrors the reference's code-declared parquet schemas (SURVEY §1.2):
forecasts = 21 columns (daemon/src/domains/forecasts/download_forecast.rs:130-289),
observations = 13 columns (daemon/src/domains/observations/download_observations.rs:125-222).

One deliberate improvement over the reference: ``generated_at`` /
``begin_time`` / ``end_time`` are real TIMESTAMP columns (UTC),
not RFC3339 text — this gives parquet min/max row-group pruning on
time predicates for free and removes the reference's per-query
``::TIMESTAMP`` casts. The session pins UTC so the semantics of the
reference's naive-vs-tz cast split (weather_data.rs:94 vs :198)
coincide. Naive ``datetime`` values in this package are UTC; a
literal built from one goes through :func:`utc_lit`, because PySpark
converts a naive literal with the *process* zone (``time.mktime``).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def utc_lit(ts: dt.datetime | None) -> Column:
    """A TIMESTAMP literal that reads a naive ``ts`` as UTC whatever
    the process zone (``TZ``); aware values keep their own zone."""
    if ts is not None and ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return F.lit(ts).cast("timestamp")


UNIT_FAHRENHEIT = "fahrenheit"
UNIT_CELSIUS = "celcius"  # [sic] — reference spelling, xml_forecast.rs:228-261
UNIT_KNOTS = "knots"
UNIT_DEGREES = "degrees true"
UNIT_INCHES = "inches"
UNIT_PERCENT = "percent"

FORECAST_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType(), False),
        T.StructField("station_name", T.StringType(), False),
        T.StructField("latitude", T.DoubleType(), False),
        T.StructField("longitude", T.DoubleType(), False),
        T.StructField("generated_at", T.TimestampType(), False),
        T.StructField("begin_time", T.TimestampType(), False),
        T.StructField("end_time", T.TimestampType(), False),
        T.StructField("max_temp", T.LongType(), True),
        T.StructField("min_temp", T.LongType(), True),
        T.StructField("temperature_unit_code", T.StringType(), False),
        T.StructField("wind_speed", T.LongType(), True),
        T.StructField("wind_speed_unit_code", T.StringType(), False),
        T.StructField("wind_direction", T.LongType(), True),
        T.StructField("wind_direction_unit_code", T.StringType(), False),
        T.StructField("relative_humidity_max", T.LongType(), True),
        T.StructField("relative_humidity_min", T.LongType(), True),
        T.StructField("relative_humidity_unit_code", T.StringType(), False),
        T.StructField("liquid_precipitation_amt", T.DoubleType(), True),
        T.StructField("liquid_precipitation_unit_code", T.StringType(), False),
        T.StructField("twelve_hour_probability_of_precipitation", T.LongType(), True),
        T.StructField("twelve_hour_probability_of_precipitation_unit_code", T.StringType(), False),
    ]
)

OBSERVATION_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType(), False),
        T.StructField("station_name", T.StringType(), False),
        T.StructField("latitude", T.DoubleType(), False),
        T.StructField("longitude", T.DoubleType(), False),
        T.StructField("generated_at", T.TimestampType(), False),
        T.StructField("temperature_value", T.DoubleType(), True),
        T.StructField("temperature_unit_code", T.StringType(), False),
        T.StructField("wind_direction", T.LongType(), True),
        T.StructField("wind_direction_unit_code", T.StringType(), False),
        T.StructField("wind_speed", T.LongType(), True),
        T.StructField("wind_speed_unit_code", T.StringType(), False),
        T.StructField("dewpoint_value", T.DoubleType(), True),
        T.StructField("dewpoint_unit_code", T.StringType(), False),
    ]
)
