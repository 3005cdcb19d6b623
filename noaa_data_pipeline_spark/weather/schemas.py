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
literal built from one goes through :func:`utc_lit`, Python rows
become a frame through :func:`local_frame`, and frames with
timestamps are collected through :func:`collect_utc`, because PySpark
converts a naive literal or list row, and a collected TIMESTAMP, with
the *process* zone (``time.mktime`` / ``datetime.fromtimestamp``).
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def utc_lit(ts: dt.datetime | None) -> Column:
    """A TIMESTAMP literal that reads a naive ``ts`` as UTC whatever
    the process zone (``TZ``); aware values keep their own zone."""
    if ts is not None and ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return F.lit(ts).cast("timestamp")


def _naive_utc(values: tuple) -> list:
    return [
        v.astimezone(dt.timezone.utc).replace(tzinfo=None) if v is not None and v.tzinfo else v
        for v in values
    ]


def local_frame(
    spark: SparkSession, rows: list[tuple] | pa.Table, schema: T.StructType | str
) -> DataFrame:
    """Python rows or an Arrow table -> a DataFrame; the one place in
    ``weather/`` that calls ``createDataFrame``.

    ``spark.createDataFrame(list_of_tuples)`` re-pickles the rows into
    a PythonRDD, so every scan of the frame runs Python-worker tasks,
    and it converts naive datetimes with the process zone; an Arrow
    table becomes a ``LocalRelation`` the JVM scans itself. The Arrow
    columns take the exact Spark types (``schema`` is a StructType or
    a DDL string); timestamps are naive (``pa.timestamp("us")``), which
    Spark reads in the session zone (UTC), so naive-UTC values keep
    their instant whatever the process zone. pyarrow keeps the wall
    clock of an aware datetime and drops its offset, so aware values in
    top-level timestamp columns are first moved to naive UTC. No pandas
    hop: it would turn ``None`` in float columns into NaN, which Spark
    keeps as a value, not a null. A ``None`` in a non-nullable field
    raises ``ValueError``.

    A ``pa.Table`` (a small frame collected with ``toArrow()``, whose
    timestamps are UTC-aware) crosses back as it is, so a plan can be
    executed once and its result reused as a ``LocalRelation``."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows, schema)
    arrow = to_arrow_schema(schema, timestamp_utc=False)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [
            pa.array(
                _naive_utc(col) if isinstance(f.dataType, T.TimestampType) else col,
                type=a.type,
            )
            for col, f, a in zip(columns, schema.fields, arrow)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _ntz(t: T.DataType) -> T.DataType:
    """``t`` with every TIMESTAMP in it, nested ones included, made
    TIMESTAMP_NTZ."""
    if isinstance(t, T.TimestampType):
        return T.TimestampNTZType()
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _ntz(f.dataType), f.nullable) for f in t.fields])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_ntz(t.elementType), t.containsNull)
    if isinstance(t, T.MapType):
        return T.MapType(_ntz(t.keyType), _ntz(t.valueType), t.valueContainsNull)
    return t


def collect_utc(df: DataFrame) -> list[Row]:
    """``df.collect()`` with every TIMESTAMP, also inside structs,
    arrays and maps, cast to TIMESTAMP_NTZ first, so it collects as a
    naive UTC datetime (the session zone) instead of a naive datetime
    in the process zone. Columns are picked by position, so duplicate
    names (user SQL may return them) stay unambiguous."""
    fields = df.schema.fields
    tmp = [f"_{i}" for i in range(len(fields))]
    return df.toDF(*tmp).select(
        *[F.col(c).cast(_ntz(f.dataType)).alias(f.name) for c, f in zip(tmp, fields)]
    ).collect()


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
