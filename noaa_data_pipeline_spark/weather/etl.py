"""Event scoring + winner selection as declarative Spark plans.

Re-expresses the reference's procedural ETL (oracle/src/oracle.rs):

- scoring (:445-588): per (entry, station, metric) — 20 points when a
  'par' pick matches forecast == round(observed), 10 when an
  'over'/'under' pick is directionally right; base*10000 plus a
  UUIDv7 creation-time tiebreak (9999 - unix_millis % 10000, older
  wins).
- winners (:598-617): top-3 by score, reported as 0-based indices
  into the id-sorted canonical entry order.

The reference walks hash maps entry-by-entry, one event at a time;
here every active event is scored in one plan (a join chain keyed by
event + conditional aggregation) and ranked in one window pass
partitioned by event — the shape that scales to millions of entries.
Rounding: Spark's ROUND is HALF_UP (away from zero), identical to
Rust's f64::round used on observed temps (oracle.rs:496-547).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

METRICS = ["temp_low", "temp_high", "wind_speed"]
PAR_POINTS = 20
OVER_UNDER_POINTS = 10
TOP_K = 3


def uuid7_unix_millis(uuid_col: F.Column) -> F.Column:
    """F10: a UUIDv7's first 48 bits are its unix-epoch milliseconds;
    extract them JVM-side (no Python UDF) from the canonical string
    form (reference tiebreak at oracle.rs:553-558)."""
    hexstr = F.regexp_replace(uuid_col, "-", "")
    return F.conv(F.substring(hexstr, 1, 12), 16, 10).cast("long")


def choices_long(choices_wide: DataFrame) -> DataFrame:
    """Unpivot the reference's (entry_id, station, temp_low,
    temp_high, wind_speed) pick rows (event_db_migrations.rs:77-86)
    to (entry_id, station_id, metric, pick)."""
    stack = ", ".join(f"'{m}', {m}" for m in METRICS)
    return (
        choices_wide.select(
            "entry_id",
            F.col("station").alias("station_id"),
            F.expr(f"stack({len(METRICS)}, {stack}) AS (metric, pick)"),
        )
        .filter(F.col("pick").isNotNull())
    )


def _metric_values(daily: DataFrame, rounded: bool, keys: tuple[str, ...]) -> DataFrame:
    """(*keys, metric, value) from a daily rollup frame; observed
    temps round half-away-from-zero to integers first (F5 — Spark
    ROUND is HALF_UP, i.e. away from zero, same as Rust f64::round)."""
    cols = []
    for m in METRICS:
        v = F.col(m)
        if rounded and m != "wind_speed":
            v = F.round(v, 0)
        cols.append(F.struct(F.lit(m).alias("metric"), v.cast("long").alias("value")))
    return daily.select(
        *keys, F.explode(F.array(*cols)).alias("mv")
    ).select(*keys, F.col("mv.metric").alias("metric"), F.col("mv.value").alias("value"))


def score_entries_batch(
    entries: DataFrame,
    choices: DataFrame,
    forecast_daily: DataFrame,
    observation_daily: DataFrame,
) -> DataFrame:
    """A6: (entry_id, event_id, base_score, score) for every entry,
    every active event in one plan. The daily frames carry
    ``event_id`` so the join keys are (event_id, station_id, metric)
    and a single map-side-combined groupBy(entry_id) scores the whole
    fleet — no per-event loop, no driver serialization at 10^5
    events.

    entries: (entry_id, event_id) restricted to the events to score;
    choices: long form from :func:`choices_long`; *_daily:
    queries.forecasts_daily / observations_daily keyed by event
    (event_id leading), restricted to each event's window.
    """
    keys = ("event_id", "station_id")
    fc = _metric_values(
        forecast_daily.select(*keys, *METRICS), rounded=False, keys=keys
    ).withColumnRenamed("value", "forecast_v")
    ob = _metric_values(
        observation_daily.select(*keys, *METRICS), rounded=True, keys=keys
    ).withColumnRenamed("value", "observed_v")
    # choices carry no event_id; attach it from entries. Entries/choices
    # are the SF-scaling side; the weather values (events x stations x 3
    # metrics) stay bounded and broadcast.
    ch = choices.join(entries, "entry_id")
    joined = (
        ch.join(F.broadcast(fc), ["event_id", "station_id", "metric"])
        .join(F.broadcast(ob), ["event_id", "station_id", "metric"])
    )
    pts = (
        F.when(
            (F.col("pick") == "par") & (F.col("forecast_v") == F.col("observed_v")),
            PAR_POINTS,
        )
        .when(
            (F.col("pick") == "over") & (F.col("forecast_v") < F.col("observed_v")),
            OVER_UNDER_POINTS,
        )
        .when(
            (F.col("pick") == "under") & (F.col("forecast_v") > F.col("observed_v")),
            OVER_UNDER_POINTS,
        )
        .otherwise(0)
    )
    per_entry = joined.select("entry_id", pts.alias("pts")).groupBy("entry_id").agg(
        F.sum("pts").alias("base_score")
    )
    # entries with no scorable choices still get the time-part score
    scored = entries.join(per_entry, "entry_id", "left").na.fill({"base_score": 0})
    time_part = F.lit(9999) - (uuid7_unix_millis(F.col("entry_id")) % 10000)
    return scored.select(
        "entry_id",
        "event_id",
        F.col("base_score").cast("long").alias("base_score"),
        (F.col("base_score") * 10000 + time_part).cast("long").alias("score"),
    )


def winners_batch(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """W4: per event, the top-k entries by score with each winner's
    0-based index in the id-sorted canonical entry list
    (oracle.rs:598-617). One window pass partitioned by event_id
    ranks every signable event at once.

    Must receive ALL entries of each event, scored or not: the
    reference builds ``entry_indices`` from the full id-sorted entry
    list, so an unscored entry still occupies a canonical slot, and
    ``sort_by_key(Reverse(score))`` on ``Option<i64>`` ranks
    ``None`` below every scored entry (``None < Some(_)``) while
    still letting unscored entries win when fewer than k are scored
    — hence ``desc_nulls_last`` here, not a NOT NULL prefilter."""
    w_canon = Window.partitionBy("event_id").orderBy("entry_id")
    w_rank = Window.partitionBy("event_id").orderBy(
        F.desc_nulls_last("score"), F.asc("entry_id")
    )
    return (
        scored.select(
            "event_id",
            "entry_id",
            "score",
            (F.row_number().over(w_canon) - 1).alias("canonical_idx"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
    )


def get_winning_bytes(indices: list[int]) -> bytes:
    """Attestation message bytes: winner indices as big-endian u64s
    (oracle.rs:693-698); run.schnorr_signer / run.sign_stub sign
    them."""
    return b"".join(i.to_bytes(8, "big") for i in indices)
