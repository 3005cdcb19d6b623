"""Independent answers for the correctness checks.

The read routes are recomputed with DuckDB straight from the lake's
parquet files, with the reference's SQL (oracle/src/db/weather_data.rs
as FIXTURES.md section 3 describes it): the same partition and
``ingested_at`` pruning, the two-level forecast rollup, the
observation aggregate and the station dedup. Nothing here calls the
engine, so a wrong engine answer cannot also be the expected one.
"""

from __future__ import annotations

import datetime as dt
import math
import os

DAY = dt.timedelta(days=1)


def canon(value) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, float):
        return "nan" if math.isnan(value) else f"{value:.10g}"
    if isinstance(value, (dt.datetime, dt.date)):
        return value.isoformat()
    return str(value)


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as tuples of canonical strings in ``columns`` order; rows
    may be dicts (JSON responses) or sequences (DuckDB)."""
    out = []
    for r in rows:
        vals = [r[c] for c in columns] if isinstance(r, dict) else list(r)
        out.append(tuple(canon(v) for v in vals))
    return out


def _ts(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t.isoformat(sep=' ')}'"


class LakeOracle:
    """DuckDB over a weather lake root written by ``lake.write_snapshot``."""

    def __init__(self, lake_root: str):
        import duckdb

        self.con = duckdb.connect()
        self.root = lake_root

    def _table(self, file_type: str) -> str:
        glob = os.path.join(self.root, f"file_type={file_type}", "*", "*.parquet")
        return f"read_parquet('{glob}', hive_partitioning = true, union_by_name = true)"

    def _pruned(self, file_type: str, start, end) -> str:
        where = ["TRUE"]
        if start is not None:
            where.append(f"ingest_date >= DATE '{start.date()}' AND ingested_at >= {_ts(start)}")
        if end is not None:
            where.append(f"ingest_date <= DATE '{end.date()}' AND ingested_at <= {_ts(end)}")
        return f"SELECT * FROM {self._table(file_type)} WHERE {' AND '.join(where)}"

    @staticmethod
    def _stations(ids: list[str] | None) -> str:
        return "TRUE" if not ids else "station_id IN (" + ", ".join(f"'{s}'" for s in ids) + ")"

    FORECAST_COLS = ["station_id", "date", "start_time", "end_time", "temp_low", "temp_high", "wind_speed"]
    OBSERVATION_COLS = ["station_id", "start_time", "end_time", "temp_low", "temp_high", "wind_speed"]
    STATION_COLS = ["station_id", "station_name", "latitude", "longitude"]

    def forecasts(self, start, end, ids) -> list[tuple]:
        day = "CAST(date_trunc('day', {}) AS TIMESTAMP)"
        cond = [self._stations(ids)]
        if start is not None:
            cond.append(f"{day.format('begin_time')} >= {_ts(start)}")
        if end is not None:
            cond.append(f"{day.format('end_time')} <= {_ts(end)}")
        sql = f"""
            WITH fc AS ({self._pruned('forecasts', None if start is None else start - DAY, end)}),
            per_interval AS (
                SELECT station_id, begin_time,
                       strftime({day.format('begin_time')}, '%Y-%m-%d') AS date,
                       min(begin_time) AS start_time, max(end_time) AS end_time,
                       min(min_temp) AS temp_low, max(max_temp) AS temp_high,
                       max(wind_speed) AS wind_speed
                FROM fc WHERE {' AND '.join(cond)}
                GROUP BY station_id, begin_time)
            SELECT station_id, date, min(start_time), max(end_time), min(temp_low),
                   max(temp_high), max(wind_speed)
            FROM per_interval GROUP BY station_id, date"""
        return sorted(canon_rows(self.FORECAST_COLS, self.con.execute(sql).fetchall()))

    def observations(self, start, end, ids) -> list[tuple]:
        cond = [self._stations(ids)]
        if start is not None:
            cond.append(f"generated_at >= {_ts(start)}")
        if end is not None:
            cond.append(f"generated_at <= {_ts(end)}")
        sql = f"""
            SELECT station_id, min(generated_at), max(generated_at), min(temperature_value),
                   max(temperature_value), max(wind_speed)
            FROM ({self._pruned('observations', start, end)})
            WHERE {' AND '.join(cond)} GROUP BY station_id"""
        return sorted(canon_rows(self.OBSERVATION_COLS, self.con.execute(sql).fetchall()))

    def stations(self) -> list[tuple]:
        sql = f"SELECT DISTINCT {', '.join(self.STATION_COLS)} FROM {self._table('observations')}"
        return sorted(canon_rows(self.STATION_COLS, self.con.execute(sql).fetchall()))

    def rows_per_snapshot(self) -> dict[tuple[str, dt.datetime], int]:
        out = {}
        for file_type in ("forecasts", "observations"):
            sql = f"SELECT ingested_at, count(*) FROM {self._table(file_type)} GROUP BY 1"
            for at, n in self.con.execute(sql).fetchall():
                out[(file_type, at)] = n
        return out


def ui_sql_rows(files: list[str], sql: str) -> tuple[list[str], list[tuple]]:
    """The UI query box's answer from DuckDB over the uploaded files,
    registered the way the reference UI registers them."""
    import duckdb

    con = duckdb.connect()
    quoted = ", ".join(f"'{f}'" for f in files)
    con.execute(f"CREATE VIEW observations AS SELECT * FROM read_parquet([{quoted}], union_by_name = true)")
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, canon_rows(cols, res.fetchall())


def read_store_table(store_root: str, table: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(store_root, table)).to_pylist()
