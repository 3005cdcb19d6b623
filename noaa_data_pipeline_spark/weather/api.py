"""Read-API layer: the reference's three query routes as plain
functions (SURVEY §3.1/§3.3 minus the HTTP frame — axum extractor ->
function arguments, JSON serialization -> list-of-dicts, collected
through :func:`.schemas.collect_utc` so timestamps are UTC whatever
the process zone). A FastAPI shim would mount these 1:1.

- forecasts:    GET /stations/forecasts?start&end&station_ids
                (oracle/src/routes/stations/weather_routes.rs:25-66)
- observations: GET /stations/observations (same shape)
- stations:     GET /stations (station catalog)
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from . import lake, queries
from .schemas import collect_utc


def _rows(df: DataFrame) -> list[dict]:
    return [r.asDict() for r in collect_utc(df)]


def _parse_stations(station_ids: str | None) -> list[str] | None:
    # the route splits the comma-list (weather_routes.rs:49-55)
    if not station_ids:
        return None
    return [s for s in (p.strip() for p in station_ids.split(",")) if s]


def forecasts(
    spark: SparkSession,
    lake_root: str,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    station_ids: str | None = None,
) -> list[dict]:
    """The flagship read query end-to-end: pruned lake scan (start
    widened -1 day, P4) -> two-level daily rollup -> JSON rows."""
    fc = lake.read_lake(
        spark, lake_root, lake.FORECASTS, start=queries.scan_start_widened(start), end=end
    )
    return _rows(queries.forecasts_daily(fc, _parse_stations(station_ids), start, end))


def observations(
    spark: SparkSession,
    lake_root: str,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    station_ids: str | None = None,
) -> list[dict]:
    ob = lake.read_lake(spark, lake_root, lake.OBSERVATIONS, start=start, end=end)
    return _rows(queries.observations_daily(ob, _parse_stations(station_ids), start, end))


def stations(spark: SparkSession, lake_root: str) -> list[dict]:
    ob = lake.read_lake(spark, lake_root, lake.OBSERVATIONS)
    return _rows(queries.stations(ob))
