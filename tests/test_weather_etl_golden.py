"""Port of the reference's end-to-end ETL golden test
(oracle/tests/api/etl_workflow.rs:62-334): same 4 stations, same 4
entries with fixed UUIDv7 creation times, same mocked forecast and
observation values — must produce the exact golden scores 409899 /
309799 / 409699 / 109599, the same winner ordering, and the same
attestation message bytes."""

from __future__ import annotations

import datetime as dt

import pytest

from noaa_data_pipeline_spark.weather import etl


def uuid7_at(ts: dt.datetime, millis_extra: int) -> str:
    """Deterministic UUIDv7 with the given creation time (zeroed
    random bits — only the 48-bit timestamp matters here, as in the
    reference's fixed-timestamp helper, etl_workflow.rs:21-37)."""
    millis = int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) + millis_extra
    hex48 = f"{millis:012x}"
    return f"{hex48[:8]}-{hex48[8:]}-7000-8000-000000000000"


BASE = dt.datetime(2024, 8, 11)
E1 = uuid7_at(BASE, 100)
E2 = uuid7_at(BASE, 200)
E3 = uuid7_at(BASE, 300)
E4 = uuid7_at(BASE, 400)
EVENT = "00000000-0000-7000-8000-0000000000ff"

# (station_id, temp_low, temp_high, wind_speed) — etl_workflow.rs:336-383
FORECASTS = [
    ("PFNO", 9, 35, 8),
    ("KSAW", 17, 25, 3),
    ("PAPG", 14, 17, 6),
    ("KWMC", 31, 33, 11),
]
# observed — etl_workflow.rs:385-412
OBSERVATIONS = [
    ("PFNO", 9.4, 35.0, 11),
    ("KSAW", 22.0, 25.0, 10),
    ("PAPG", 15.0, 16.0, 6),
    ("KWMC", 32.8, 34.4, 11),
]
# (entry, station, temp_low, temp_high, wind_speed) picks — :103-199
CHOICES = [
    (E1, "PFNO", "under", None, "over"),
    (E1, "KSAW", None, None, "over"),
    (E1, "KWMC", "par", "under", "par"),
    (E2, "PFNO", "par", None, "par"),
    (E2, "KSAW", "par", None, "over"),
    (E2, "KWMC", "par", "under", None),
    (E3, "PFNO", "par", None, "under"),
    (E3, "KSAW", "over", None, "over"),
    (E3, "KWMC", "par", None, "under"),
    (E4, "PFNO", "over", None, "par"),
    (E4, "KSAW", None, "under", "over"),
    (E4, "KWMC", "par", None, "under"),
]

GOLDEN_SCORES = {E1: 409899, E2: 309799, E3: 409699, E4: 109599}


@pytest.fixture(scope="module")
def scored(spark):
    entries = spark.createDataFrame(
        [(e, EVENT) for e in [E1, E2, E3, E4]], "entry_id string, event_id string"
    )
    choices = etl.choices_long(
        spark.createDataFrame(
            CHOICES,
            "entry_id string, station string, temp_low string, temp_high string, wind_speed string",
        )
    )
    fc = spark.createDataFrame(
        [(EVENT, *r) for r in FORECASTS],
        "event_id string, station_id string, temp_low long, temp_high long, wind_speed long",
    )
    ob = spark.createDataFrame(
        [(EVENT, *r) for r in OBSERVATIONS],
        "event_id string, station_id string, temp_low double, temp_high double,"
        " wind_speed long",
    )
    return etl.score_entries_batch(entries, choices, fc, ob)


def test_golden_scores(scored):
    got = {r.entry_id: r.score for r in scored.collect()}
    assert got == GOLDEN_SCORES


def test_golden_winners_and_attestation_bytes(scored):
    win = etl.winners_batch(scored).orderBy("rank").collect()
    # score order: E1 (409899) > E3 (409699) > E2 (309799) — :283-334
    assert [w.entry_id for w in win] == [E1, E3, E2]
    # canonical (id-sorted = creation) order is E1,E2,E3,E4
    assert [w.canonical_idx for w in win] == [0, 2, 1]
    assert etl.get_winning_bytes([w.canonical_idx for w in win]) == (
        (0).to_bytes(8, "big") + (2).to_bytes(8, "big") + (1).to_bytes(8, "big")
    )


def test_winners_include_unscored_in_canonical_order(spark, scored):
    """The canonical index list is built from ALL entries, scored or
    not (oracle.rs:598-607): an unscored entry still occupies its
    id-sorted slot, and ``Reverse(Option<i64>)`` ranks ``None`` below
    every scored entry, so it can only win when fewer than k are
    scored."""
    e0 = uuid7_at(BASE, 50)  # sorts before E1..E4, score NULL
    unscored = spark.createDataFrame(
        [(e0, EVENT, None)], "entry_id string, event_id string, score long"
    )
    full = scored.select("entry_id", "event_id", "score").unionByName(unscored)
    win = etl.winners_batch(full).orderBy("rank").collect()
    # winners unchanged, but indices shift by 1 because e0 occupies slot 0
    assert [w.entry_id for w in win] == [E1, E3, E2]
    assert [w.canonical_idx for w in win] == [1, 3, 2]
    # with k larger than the scored count, the unscored entry ranks last
    win5 = etl.winners_batch(full, k=5).orderBy("rank").collect()
    assert win5[-1].entry_id == e0 and win5[-1].canonical_idx == 0


def test_uuid7_millis_extraction(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(E1,)], "u string").select(
        etl.uuid7_unix_millis(F.col("u")).alias("ms")
    )
    expected = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) + 100
    assert df.collect()[0].ms == expected
