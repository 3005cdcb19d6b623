"""Shared expression helpers for oracle-exact, fast numeric results.

Double-typed SUM/AVG results depend on floating-point addition order,
which differs between Spark's partitioned aggregation and a
single-threaded oracle — so exact aggregation needs an associative
accumulator. Two are available:

- ``dsum``/``davg`` — fixed-point scaled-long sums: each value is
  truncated to 1e-6 resolution (``FLOOR(x * 1e6)``, identical in
  both engines) and summed as a 64-bit integer, which is exact,
  associative, and runs at plain-long-add speed (measured 5x faster
  than Spark's decimal aggregate at sf0.1). Overflow envelope: the
  per-group sum of |x| must stay under 2^63/1e6 ~= 9.2e12 — fine for
  price-like columns; for wider domains use ``exact_agg`` below.
- ``exact_agg`` — the same scaled-long partials computed per
  (partition, group) map-side, then combined across partitions in
  DECIMAL(38,0): exact at any scale (per-partition partial sums are
  bounded by partition size, the decimal combine is over one row per
  partition per group). This is the 100 TB-safe form; the extra
  combine shuffle carries one row per (partition, group).

Every helper has a DuckDB SQL twin so oracle queries cannot drift.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 10**6  # 1e-6 fixed-point resolution
DEC = "decimal(30,6)"  # kept for non-hot-path decimal accumulation
SQL_DEC = "DECIMAL(30,6)"


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _scaled(col: Column | str) -> Column:
    return F.floor(_col(col) * SCALE).cast("long")


def dsum(col: Column | str, alias: str) -> Column:
    """Exact double sum at 1e-6 resolution via scaled-long addition."""
    return (F.sum(_scaled(col)).cast("double") / SCALE).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Exact double mean: scaled-long sum divided by count."""
    c = _col(col)
    return ((F.sum(_scaled(c)).cast("double") / SCALE) / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {SCALE}) AS BIGINT)) AS DOUBLE)"
        f" / {SCALE}.0 AS {alias}"
    )


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"(CAST(SUM(CAST(FLOOR(({expr}) * {SCALE}) AS BIGINT)) AS DOUBLE)"
        f" / {SCALE}.0) / COUNT({expr}) AS {alias}"
    )


def exact_agg(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column | str] | None = None,
    avgs: dict[str, Column | str] | None = None,
    mins: dict[str, Column | str] | None = None,
    maxs: dict[str, Column | str] | None = None,
    count_alias: str | None = None,
) -> DataFrame:
    """Two-phase exact aggregation, safe at any data scale.

    Phase 1 groups by (spark_partition_id, keys): the partial hash
    aggregate collapses each partition to one row per group map-side,
    long sums bounded by partition row counts. Phase 2 combines the
    per-partition partials in DECIMAL(38,0) (exact integers). The
    result is bit-identical regardless of partitioning, matching a
    single-threaded oracle running the plain scaled-long SQL.
    """
    sums, avgs = sums or {}, avgs or {}
    mins, maxs = mins or {}, maxs or {}
    phase1 = df.groupBy(F.spark_partition_id().alias("__pid"), *keys).agg(
        *[F.sum(_scaled(c)).alias(f"__s_{a}") for a, c in sums.items()],
        *[F.sum(_scaled(c)).alias(f"__s_{a}") for a, c in avgs.items()],
        *[F.count(_col(c)).alias(f"__n_{a}") for a, c in avgs.items()],
        *[F.min(_col(c)).alias(f"__min_{a}") for a, c in mins.items()],
        *[F.max(_col(c)).alias(f"__max_{a}") for a, c in maxs.items()],
        F.count(F.lit(1)).alias("__cnt"),
    )
    combine = []
    for a in sums:
        combine.append(
            (F.sum(F.col(f"__s_{a}").cast("decimal(38,0)")).cast("double") / SCALE).alias(a)
        )
    for a in avgs:
        combine.append(
            (
                (F.sum(F.col(f"__s_{a}").cast("decimal(38,0)")).cast("double") / SCALE)
                / F.sum(F.col(f"__n_{a}"))
            ).alias(a)
        )
    for a in mins:
        combine.append(F.min(F.col(f"__min_{a}")).alias(a))
    for a in maxs:
        combine.append(F.max(F.col(f"__max_{a}")).alias(a))
    if count_alias:
        combine.append(F.sum("__cnt").alias(count_alias))
    return phase1.groupBy(*keys).agg(*combine)


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk parquet footprint of one lake table, or None when the
    path isn't local (object stores) — callers must treat None as
    "assume fact-sized". This is the cheap cardinality signal plans
    use to pick broadcast vs shuffle for MID-SIZED tables: dimension
    tables (nation, supplier) broadcast unconditionally, fact tables
    must never broadcast, and the gray zone (orders projections)
    gets the measured answer — the same decision a cost-based
    optimizer makes from table stats. See q9/q21: a fact side that
    slips under the session's 64 MB broadcast threshold costs a
    driver-side single-threaded hash build that grows with scale
    (GATE_LOG.md round 6 profile)."""
    import glob as _glob

    from ..tables import table_path

    path = table_path(sf_dir, name)
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(p)
                for p in _glob.glob(os.path.join(path, "**", "*"), recursive=True)
                if os.path.isfile(p)
            )
        return os.path.getsize(path)
    except OSError:
        return None


# Broadcast a gray-zone table only when its on-disk footprint is
# provably dim-sized; an unknown footprint defaults to shuffle (the
# scale-safe choice).
BROADCAST_FILE_CAP = 16 * 1024 * 1024


def prefer_broadcast(sf_dir: str, name: str) -> bool:
    b = table_bytes(sf_dir, name)
    return b is not None and b < BROADCAST_FILE_CAP


def _swap_persisted(slot: list[DataFrame], frame: DataFrame) -> DataFrame:
    """Unpersist the previous invocation's frame, THEN persist the new
    one — in that order: a repeat invocation builds the identical
    logical plan, so persist-before-unpersist would hit the
    CacheManager's already-cached entry (making the new persist a
    no-op) and the old frame's unpersist would then drop the cache
    entirely.

    The slot is deliberately ONE per entry, not per (entry, lake):
    alternating invocations across two lakes in one session recompute
    rather than hold both lakes' partitions — a perf-only trade that
    bounds cache growth at one invocation per entry (r10 ADVICE
    documents the cross-lake recompute as accepted behavior)."""
    while slot:
        prev = slot.pop()
        try:
            prev.unpersist()
        except Exception as exc:  # stopped-session py4j errors only
            # r10 ADVICE: don't swallow silently — the expected case
            # is a frame whose owning SparkSession was stopped by a
            # test fixture; anything else should be visible in logs.
            logging.getLogger(__name__).warning(
                "unpersist of previous invocation's frame failed: %s", exc
            )
    slot.append(frame.persist())
    return frame
