"""Weather lake layout + daily rollup queries: write hourly
snapshots, verify partition pruning appears in the plan, and check
the A1/A2/A3 rollups against a DuckDB oracle over the same files."""

from __future__ import annotations

import datetime as dt
import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from noaa_data_pipeline_spark.weather import flatten, lake, queries, sources
from noaa_data_pipeline_spark.weather.schemas import FORECAST_SCHEMA, OBSERVATION_SCHEMA

T0 = dt.datetime(2024, 8, 11, 0, 0, 0)


def _forecast_rows():
    """Three hourly snapshots re-reporting overlapping 3h intervals,
    so the two-level rollup actually dedupes across files."""
    rows = []
    for snap in range(3):
        gen = T0 + dt.timedelta(hours=snap)
        for station in ["KMSP", "KSEA"]:
            for slot in range(8):
                begin = T0 + dt.timedelta(hours=3 * slot)
                rows.append(
                    (
                        station, f"{station} name", 44.9, -93.2, gen,
                        begin, begin + dt.timedelta(hours=3),
                        30 + slot + snap, 10 + slot - snap, "fahrenheit",
                        5 + ((slot * 7 + snap) % 11), "knots",
                        180, "degrees true", 80, 40, "percent",
                        0.1 * slot, "inches", 20, "percent",
                    )
                )
    return rows


def _observation_rows():
    rows = []
    for h in range(24):
        gen = T0 + dt.timedelta(hours=h)
        for station in ["KMSP", "KSEA"]:
            rows.append(
                (
                    station, f"{station} name", 44.9, -93.2, gen,
                    10.0 + (h * 3 % 17) + (0.4 if station == "KMSP" else 0.0),
                    "celcius", 180, "degrees true", (h * 5) % 13, "knots",
                    5.0, "celcius",
                )
            )
    return rows


@pytest.fixture(scope="module")
def weather_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("weather_lake"))
    fc = spark.createDataFrame(_forecast_rows(), FORECAST_SCHEMA)
    ob = spark.createDataFrame(_observation_rows(), OBSERVATION_SCHEMA)
    lake.write_snapshot(fc, root, lake.FORECASTS, T0)
    lake.write_snapshot(
        fc.withColumn("generated_at", F.col("generated_at") + F.expr("interval 1 day")),
        root, lake.FORECASTS, T0 + dt.timedelta(days=1),
    )
    lake.write_snapshot(ob, root, lake.OBSERVATIONS, T0)
    return root


def test_partition_pruning_in_plan(spark, weather_root):
    df = lake.read_lake(spark, weather_root, lake.FORECASTS, start=T0, end=T0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "file_type" in plan and "ingest_date" in plan
    # only the day-0 forecasts partition survives pruning
    assert df.select(F.count("*")).collect()[0][0] == len(_forecast_rows())


def test_forecasts_daily_matches_duckdb(spark, weather_root):
    fc = lake.read_lake(spark, weather_root, lake.FORECASTS, start=T0, end=T0)
    got = {
        (r.station_id, r.date): (r.temp_low, r.temp_high, r.wind_speed)
        for r in queries.forecasts_daily(fc, station_ids=["KMSP", "KSEA"]).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW fc AS SELECT * FROM read_parquet('{weather_root}/file_type=forecasts/ingest_date={T0.date()}/*.parquet')"
    )
    expected = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(
            """
            WITH per_interval AS (
                SELECT station_id, begin_time,
                       strftime(date_trunc('day', begin_time), '%Y-%m-%d') AS date,
                       MIN(min_temp) AS temp_low, MAX(max_temp) AS temp_high,
                       MAX(wind_speed) AS wind_speed
                FROM fc GROUP BY station_id, begin_time
            )
            SELECT station_id, date, MIN(temp_low), MAX(temp_high), MAX(wind_speed)
            FROM per_interval GROUP BY station_id, date
            """
        ).fetchall()
    }
    assert got == expected


def test_observations_daily_and_stations(spark, weather_root):
    ob = lake.read_lake(spark, weather_root, lake.OBSERVATIONS)
    daily = {
        r.station_id: (r.temp_low, r.temp_high, r.wind_speed)
        for r in queries.observations_daily(
            ob, start=T0, end=T0 + dt.timedelta(days=1)
        ).collect()
    }
    assert daily["KMSP"] == (10.4, 26.4, 12)
    assert daily["KSEA"] == (10.0, 26.0, 12)
    st = queries.stations(ob).collect()
    assert {r.station_id for r in st} == {"KMSP", "KSEA"}
    assert len(st) == 2


def test_api_layer_round_trip(spark, weather_root):
    from noaa_data_pipeline_spark.weather import api

    fc = api.forecasts(
        spark, weather_root, start=T0, end=T0, station_ids="KMSP, KSEA"
    )
    assert {r["station_id"] for r in fc} == {"KMSP", "KSEA"}
    assert all(set(r) >= {"date", "temp_low", "temp_high", "wind_speed"} for r in fc)
    ob = api.observations(spark, weather_root, start=T0, end=T0 + dt.timedelta(days=1))
    assert len(ob) == 2
    st = api.stations(spark, weather_root)
    assert {r["station_id"] for r in st} == {"KMSP", "KSEA"}


def test_write_snapshot_writes_one_file_per_call(spark, tmp_path):
    root = str(tmp_path)
    ob = spark.createDataFrame(_observation_rows(), OBSERVATION_SCHEMA).repartition(4)
    lake.write_snapshot(ob, root, lake.OBSERVATIONS, T0)
    lake.write_snapshot(ob, root, lake.OBSERVATIONS, T0 + dt.timedelta(hours=1))
    part = os.path.join(root, f"file_type={lake.OBSERVATIONS}", f"ingest_date={T0.date()}")
    assert len(glob.glob(os.path.join(part, "*.parquet"))) == 2
    assert lake.read_lake(spark, root, lake.OBSERVATIONS).count() == 2 * len(_observation_rows())


def test_ingest_instants_do_not_depend_on_process_zone(spark, tmp_path, process_tz):
    """DWML parse -> flatten -> snapshot -> pruned read -> daily
    rollup keeps the same UTC instants whatever ``TZ`` says: naive
    datetimes are UTC on every crossing into Spark."""
    from tests.test_weather_sources import DWML

    stations = spark.createDataFrame(
        [("KMSP", "Minneapolis", 44.9, -93.2)],
        "station_id string, station_name string, latitude double, longitude double",
    )
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c)  # noqa: E731

    def tick(zone: str):
        process_tz(zone)
        root = str(tmp_path / zone.replace("/", "_"))
        locations, layouts, readings, generated_at = sources.dwml_frames(spark, DWML.encode())
        flat = flatten.flatten_forecasts(
            spark, locations, stations, layouts, readings, T0, generated_at
        )
        lake.write_snapshot(flat, root, lake.FORECASTS, T0)
        fc = lake.read_lake(spark, root, lake.FORECASTS, start=T0, end=T0)
        rows = fc.select(
            fmt("generated_at"), fmt("begin_time"), fmt("ingested_at"), "max_temp", "wind_speed"
        ).orderBy("begin_time").collect()
        daily = queries.forecasts_daily(fc, start=T0, end=T0 + dt.timedelta(days=1))
        return rows, sorted(
            daily.select("date", fmt("start_time"), "temp_high", "wind_speed").collect()
        )

    rows, daily = tick("UTC")
    assert len(rows) == 57
    assert tuple(rows[0]) == ("2024-08-10 23:45:00", "2024-08-11 00:00:00", "2024-08-11 00:00:00", 30, 5)
    assert tuple(rows[2]) == ("2024-08-10 23:45:00", "2024-08-11 06:00:00", "2024-08-11 00:00:00", 30, 5)
    assert tuple(rows[4]) == ("2024-08-10 23:45:00", "2024-08-11 12:00:00", "2024-08-11 00:00:00", 33, 9)
    assert daily[0] == ("2024-08-11", "2024-08-11 00:00:00", 33, 9)
    assert tick("America/New_York") == (rows, daily)
