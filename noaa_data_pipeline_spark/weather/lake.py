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

A read opens one type's directory, ``<root>/file_type=<type>``, with
an explicit schema: the type's write schema (``FORECAST_SCHEMA`` /
``OBSERVATION_SCHEMA``) plus ``ingested_at``. Spark then reads no
footers to infer or merge schemas (``mergeSchema`` on the whole root
ran a footer-reading job of its own on every read, and unioned the
two types' columns). The schema drift this still tolerates: a file
that lacks a column reads it as null, and a column the schema does
not name is ignored; a column whose type changed fails the read.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import FORECAST_SCHEMA, OBSERVATION_SCHEMA, local_frame, utc_lit

FORECASTS = "forecasts"
OBSERVATIONS = "observations"

_INGESTED_AT = T.StructField("ingested_at", T.TimestampType(), False)
# what a read of each type returns: the file columns, then the
# partition columns Spark discovers from the directory names
_FILE_SCHEMAS = {
    ft: T.StructType(schema.fields + [_INGESTED_AT])
    for ft, schema in ((FORECASTS, FORECAST_SCHEMA), (OBSERVATIONS, OBSERVATION_SCHEMA))
}
_PARTITIONS = [
    T.StructField("file_type", T.StringType(), True),
    T.StructField("ingest_date", T.DateType(), True),
]


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
    """Pruned read of one fact table, with an explicit schema.

    Columns: the type's write schema, ``ingested_at``, then
    ``file_type`` and ``ingest_date`` (partition columns, discovered
    below ``basePath``).
    The (file_type, ingest_date) filters hit partition columns —
    Catalyst eliminates whole directories before any IO (the
    reference's grab_file_names, done declaratively); the
    ``ingested_at`` filter prunes row groups via parquet stats (the
    filename-timestamp check, file_access.rs:47-79). A type with no
    snapshot yet reads as an empty frame with the same columns.
    """
    path = os.path.join(root, f"file_type={file_type}")
    schema = _FILE_SCHEMAS[file_type]
    if os.path.isdir(path):
        df = spark.read.schema(schema).option("basePath", root).parquet(path)
    else:
        df = local_frame(spark, [], T.StructType(schema.fields + _PARTITIONS))
    df = df.filter(F.col("file_type") == file_type)
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
