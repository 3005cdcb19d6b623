"""Partitioned weather lake: layout + pruned readers.

The reference stores one parquet file per (type, hour) under
``data/<YYYY-MM-DD>/`` and prunes by parsing directory dates and
filename timestamps in application code (oracle/src/file_access.rs:119-145).
Here the same information lives in the layout itself —

    <root>/file_type=forecasts/ingest_date=2024-08-11/part-*.parquet

one file per hourly snapshot, as in the reference, plus an
``ingested_at`` column replacing the filename timestamp — so Catalyst
partition-prunes directories and parquet row-group stats prune within
files; no hand-rolled file listing (SURVEY §2 S10, §4).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import utc_lit

FORECASTS = "forecasts"
OBSERVATIONS = "observations"


def write_snapshot(df: DataFrame, root: str, file_type: str, ingested_at: dt.datetime) -> None:
    """Append one hourly snapshot as one parquet file (the reference's
    one-file-per-pull, daemon/src/parquet_handler.rs:17-57): every row
    of a call lands in one (file_type, ingest_date) partition, and the
    ``coalesce(1)`` makes that one write task. Scale: an hourly append
    of a few MB; compaction can run as a separate job."""
    (
        df.withColumn("ingested_at", utc_lit(ingested_at))
        .withColumn("file_type", F.lit(file_type))
        .withColumn("ingest_date", F.to_date(F.lit(ingested_at.date().isoformat())))
        .coalesce(1)
        .write.mode("append")
        .partitionBy("file_type", "ingest_date")
        .parquet(root)
    )


def read_lake(
    spark: SparkSession,
    root: str,
    file_type: str,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
) -> DataFrame:
    """Pruned, schema-drift-tolerant read of one fact table.

    The (file_type, ingest_date) filters hit partition columns —
    Catalyst eliminates whole directories before any IO (the
    reference's grab_file_names, done declaratively); the
    ``ingested_at`` filter prunes row groups via parquet stats (the
    filename-timestamp check, file_access.rs:47-79).
    """
    df = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", root)
        .parquet(root)
        .filter(F.col("file_type") == file_type)
    )
    if start is not None:
        df = df.filter(
            (F.col("ingest_date") >= F.lit(start.date().isoformat()))
            & (F.col("ingested_at") >= utc_lit(start))
        )
    if end is not None:
        df = df.filter(
            (F.col("ingest_date") <= F.lit(end.date().isoformat()))
            & (F.col("ingested_at") <= utc_lit(end))
        )
    return df
