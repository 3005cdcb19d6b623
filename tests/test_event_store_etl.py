"""End-to-end: event store CRUD -> lake-backed ETL -> golden scores
-> signing — the full /oracle/update flow of the reference
(etl_workflow.rs golden fixtures flowing through the real lake and
store instead of mocks)."""

from __future__ import annotations

import datetime as dt
import decimal
import json
import sys
import threading

import pytest
from pyspark.sql import functions as F

from noaa_data_pipeline_spark.weather import lake, outcomes, run
from noaa_data_pipeline_spark.weather.event_store import EventStore
from noaa_data_pipeline_spark.weather.schemas import (
    FORECAST_SCHEMA,
    OBSERVATION_SCHEMA,
    local_frame,
)
from tests.test_weather_etl_golden import (
    CHOICES,
    E1,
    E2,
    E3,
    E4,
    FORECASTS,
    GOLDEN_SCORES,
    OBSERVATIONS,
)

OBS_DATE = dt.datetime(2024, 8, 12)
SIGN_DATE = dt.datetime(2024, 8, 13)
NOW = dt.datetime(2024, 8, 13, 0, 5)


def _write_lake(spark, lake_root, forecasts, observations):
    """One forecast snapshot, ingested the day before OBS_DATE, and one
    observation snapshot. forecasts: (station, begin_time, end_time,
    min_temp, max_temp, wind_speed); observations: (station,
    generated_at, temperature, wind_speed)."""
    units = ("knots", None, "degrees true", None, None, "percent", None, "inches",
             None, "percent")
    fc = [
        (st, f"{st} name", 40.0, -90.0, OBS_DATE - dt.timedelta(days=1), begin, end, hi, lo,
         "fahrenheit", wind) + units
        for st, begin, end, lo, hi, wind in forecasts
    ]
    ob = [
        (st, f"{st} name", 40.0, -90.0, gen, temp, "celcius", 180, "degrees true", w, "knots",
         5.0, "celcius")
        for st, gen, temp, w in observations
    ]
    lake.write_snapshot(
        local_frame(spark, fc, FORECAST_SCHEMA), lake_root, lake.FORECASTS,
        OBS_DATE - dt.timedelta(days=1),
    )
    lake.write_snapshot(
        local_frame(spark, ob, OBSERVATION_SCHEMA), lake_root, lake.OBSERVATIONS, OBS_DATE
    )


def _build_fixture(spark, tmp_path_factory, nonce=None):
    lake_root = str(tmp_path_factory.mktemp("lake"))
    store_root = str(tmp_path_factory.mktemp("store"))
    _write_lake(
        spark, lake_root,
        [(st, OBS_DATE, OBS_DATE + dt.timedelta(hours=3), lo, hi, wind)
         for st, lo, hi, wind in FORECASTS],
        [(st, OBS_DATE + dt.timedelta(hours=6), temp, w)
         for st, lo, hi, wind in OBSERVATIONS
         for temp, w in [(lo, wind), (hi, max(wind - 2, 0))]],
    )

    store = EventStore(spark, store_root)
    event_id = store.add_event(
        None, OBS_DATE, SIGN_DATE, ["PFNO", "KSAW", "PAPG", "KWMC"],
        total_allowed_entries=4, number_of_values_per_entry=6, number_of_places_win=1,
        nonce=nonce,
    )
    by_entry: dict[str, list] = {}
    for e, station, tl, th, ws in CHOICES:
        by_entry.setdefault(e, []).append((station, tl, th, ws))
    for e in [E1, E2, E3, E4]:
        store.add_entry(e, event_id, by_entry[e])
    return store, lake_root, event_id


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    return _build_fixture(spark, tmp_path_factory)


def test_store_validation(setup):
    store, _, event_id = setup
    with pytest.raises(ValueError, match="event full"):
        store.add_entry("ffffffff-0000-7000-8000-000000000000", event_id,
                        [("PFNO", "par", None, None)])
    with pytest.raises(ValueError, match="unknown event"):
        store.add_entry(E1, "no-such-event", [])


def test_listing_join_shape(setup):
    store, _, event_id = setup
    listed = store.list_events().collect()
    assert len(listed) == 1
    assert listed[0].total_entries == 4
    assert store.active_events().count() == 1


def _assert_golden_etl(store, lake_root, event_id, etl_fn):
    results = etl_fn(store, lake_root, NOW)
    assert results == {event_id: "signed"}

    entries = {r.id: r.score for r in store.read("entries").collect()}
    assert entries == {e: GOLDEN_SCORES[e] for e in entries}

    ev = store.read("events").collect()[0]
    expected_bytes = run.etl.get_winning_bytes([0, 2, 1])  # E1, E3, E2
    assert bytes(ev.attestation_signature) == run.sign_stub(expected_bytes)

    weather = store.read("weather").collect()
    assert {w.station_id for w in weather} == {"PFNO", "KSAW", "PAPG", "KWMC"}
    by_st = {w.station_id: w for w in weather}
    assert by_st["PFNO"].forecasted.temp_low == 9
    assert by_st["PFNO"].observed.temp_low == 9  # round(9.4)
    assert by_st["KWMC"].observed.temp_high == 34  # round(34.4)

    assert store.active_events().count() == 0


def test_etl_produces_golden_scores_and_signs(setup):
    store, lake_root, event_id = setup
    _assert_golden_etl(store, lake_root, event_id, run.run_etl_batch)


def test_etl_batch_path_produces_same_goldens(spark, tmp_path_factory, process_tz):
    """Store and lake instants do not depend on the process zone: with
    ``TZ=America/New_York`` a fresh fixture (naive datetimes meaning
    UTC) and its ETL pass reproduce the reference goldens, and a second
    pass finds nothing active."""
    process_tz("America/New_York")
    store, lake_root, event_id = _build_fixture(spark, tmp_path_factory)
    _assert_golden_etl(store, lake_root, event_id, run.run_etl_batch)
    # second pass: nothing active anymore
    assert run.run_etl_batch(store, lake_root, NOW + dt.timedelta(hours=1)) == {}


def test_etl_idempotent_second_pass(setup):
    store, lake_root, event_id = setup
    assert run.run_etl_batch(store, lake_root, NOW + dt.timedelta(hours=1)) == {}


def test_etl_real_schnorr_attestation(spark, tmp_path_factory):
    """With an oracle key and a pre-committed event nonce, the batch
    ETL stores the DLC attestation scalar: s*G equals the public
    locking point for the winning outcome, and (R_x, s) verifies as
    a BIP-340 signature over the winning bytes (oracle.rs:620-655)."""
    from noaa_data_pipeline_spark.functions import schnorr

    seckey = (0xA11CE).to_bytes(32, "big")
    nonce = (0xB0B).to_bytes(32, "big")
    store, lake_root, event_id = _build_fixture(spark, tmp_path_factory, nonce=nonce)
    results = run.run_etl_batch(
        store, lake_root, NOW, signer=run.schnorr_signer(seckey)
    )
    assert results == {event_id: "signed"}

    ev = store.read("events").collect()[0]
    s = bytes(ev.attestation_signature)
    assert len(s) == 32
    wb = run.etl.get_winning_bytes([0, 2, 1])
    lock = schnorr.attestation_locking_point(
        schnorr.pubkey(seckey), schnorr.nonce_point(nonce), wb
    )
    assert schnorr._mul(int.from_bytes(s, "big"), schnorr.G) == lock
    sig = schnorr.attestation_as_signature(schnorr.nonce_point(nonce), s)
    assert schnorr.verify(wb, schnorr.pubkey(seckey), sig)


def test_store_versioning_and_v1_migration(spark, tmp_path_factory):
    """db_version parity (event_db_migrations.rs:4-34): a fresh store
    stamps the current version; a pre-versioning (v1) layout —
    entries without updated_at — is migrated in place at open."""
    from noaa_data_pipeline_spark.weather import event_store as es

    # fresh store
    fresh_root = str(tmp_path_factory.mktemp("fresh_store"))
    fresh = EventStore(spark, fresh_root)
    assert fresh._version() == es.CURRENT_VERSION

    # hand-build a v1 layout: entries parquet WITHOUT updated_at, no sidecar
    v1_root = str(tmp_path_factory.mktemp("v1_store"))
    old_rows = [("e1", "ev1", 42, 4, NOW)]
    spark.createDataFrame(old_rows, es._ENTRY_SCHEMA_V1).write.parquet(
        v1_root + "/entries"
    )
    migrated = EventStore(spark, v1_root)
    assert migrated._version() == es.CURRENT_VERSION
    rows = migrated.read("entries").collect()
    assert len(rows) == 1
    assert rows[0].score == 42
    assert rows[0].updated_at == rows[0].created_at == NOW
    # reopening is a no-op
    assert EventStore(spark, v1_root)._version() == es.CURRENT_VERSION


def test_oracle_metadata_singleton(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("meta_store"))
    store = EventStore(spark, root)
    meta = store.ensure_metadata("ab" * 32, "test-oracle")
    assert meta["pubkey"] == "ab" * 32
    # same identity: idempotent
    assert store.ensure_metadata("ab" * 32, "test-oracle")["name"] == "test-oracle"
    # different key on the same store: refused (one_row_check parity)
    with pytest.raises(ValueError, match="different oracle identity"):
        store.ensure_metadata("cd" * 32, "other-oracle")


def test_permutation_counts():
    # reference unit tests: outcome_generator.rs:21-70
    assert outcomes.count_permutations(5, 3) == 60
    assert outcomes.count_permutations(100, 3) == 970_200
    assert outcomes.count_permutations(400, 3) == 63_520_800
    assert len(outcomes.outcome_permutations(5, 3)) == 60


def test_permutations_distributed(spark):
    df = outcomes.outcome_permutations_df(spark, 25, 3)
    assert df.count() == outcomes.count_permutations(25, 3)
    row = df.orderBy("first", "second", "third").first()
    assert (row.first, row.second, row.third) == (0, 1, 2)


def test_permutations_distributed_general_k(spark):
    """The distributed builder accepts any k (r9 VERDICT residue: it
    raised for k != 3): counts match P(n, k), columns extend the
    reference's top-3 naming, rows are valid permutations, and the
    itertools path agrees exactly at a checkable size."""
    for n, k in ((6, 1), (6, 2), (7, 4), (5, 5)):
        df = outcomes.outcome_permutations_df(spark, n, k)
        assert df.count() == outcomes.count_permutations(n, k)
    df = outcomes.outcome_permutations_df(spark, 7, 4)
    assert df.columns == ["first", "second", "third", "rank_3"]
    rows = {tuple(r) for r in df.collect()}
    assert rows == set(outcomes.outcome_permutations(7, 4))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        outcomes.outcome_permutations_df(spark, 3, 4)


def _reference_pass(events, entries, choices, forecasts, observations, now):
    """Plain-Python model of one POST /oracle/update pass of the
    reference (oracle.rs:314-389), event by event. events: (id,
    observation_date, signing_date, locations); entries: (entry_id,
    event_id); choices: (entry_id, station, *picks); forecasts:
    (station, begin, end, min_temp, max_temp, wind); observations:
    (station, generated_at, temperature, wind). Returns what the store
    should hold afterwards: (statuses, entries, signatures, weather)."""
    day = dt.timedelta(days=1)

    def midnight(t):
        return dt.datetime.combine(t.date(), dt.time())

    def rnd(x):  # Rust f64::round: Decimal(x) is exact, HALF_UP is away from zero
        return int(decimal.Decimal(x).quantize(0, decimal.ROUND_HALF_UP))

    statuses, scored, weather, signatures = {}, {}, [], {}
    for ev_id, obs, sign, locations in events:
        # J8 + A1/A2: forecasts of the event day; observations only
        # once the window has started
        fc, ob = {}, {}
        for st, begin, end, lo, hi, wind in forecasts:
            if st in locations and midnight(begin) >= obs and midnight(end) <= obs + day \
                    and begin.date() == obs.date():
                p = fc.get(st, (begin, lo, hi, wind))
                fc[st] = (min(p[0], begin), min(p[1], lo), max(p[2], hi), max(p[3], wind))
        for st, gen, temp, wind in observations:
            if now >= obs and st in locations and obs <= gen <= obs + day:
                p = ob.get(st, (gen, temp, temp, wind))
                ob[st] = (min(p[0], gen), min(p[1], temp), max(p[2], temp), max(p[3], wind))
        ob = {st: (t, rnd(lo), rnd(hi), w) for st, (t, lo, hi, w) in ob.items()}
        weather += [(ev_id, st, ob.get(st), fc[st]) for st in locations if st in fc]

        # scoring (oracle.rs:445-588), once observations exist
        ev_entries = sorted(e for e, owner in entries if owner == ev_id)
        for e in ev_entries if ob else []:
            base = 0
            for entry, st, *picks in choices:
                if entry != e or st not in fc or st not in ob:
                    continue
                for m, pick in enumerate(picks, start=1):
                    f, o = fc[st][m], ob[st][m]
                    if pick == "par" and f == o:
                        base += 20
                    elif (pick == "over" and f < o) or (pick == "under" and f > o):
                        base += 10
            millis = int(e.replace("-", "")[:12], 16)
            scored[e] = (base * 10000 + 9999 - millis % 10000, base)

        # status (db/mod.rs:447-471) and winners (oracle.rs:598-617)
        status = "live" if now < obs else "running" if now < obs + day else "completed"
        signatures[ev_id] = None
        if status == "completed" and sign < now and ev_entries:
            score = {e: scored.get(e, (None,))[0] for e in ev_entries}
            top = sorted(ev_entries, key=lambda e: (score[e] is None, -(score[e] or 0), e))[:3]
            wb = run.etl.get_winning_bytes([ev_entries.index(e) for e in top])
            signatures[ev_id], status = run.sign_stub(wb), "signed"
        statuses[ev_id] = status
    entry_rows = sorted((e, ev, *scored.get(e, (None, None))) for e, ev in entries)
    return statuses, entry_rows, sorted(signatures.items()), sorted(weather)


def test_batch_etl_equals_per_event_on_event_fleet(spark, tmp_path_factory):
    """A FLEET of events at different lifecycle stages (live / running
    / completed+signable / completed without entries; disjoint and
    overlapping station sets) goes through run_etl_batch; statuses,
    scores, weather rows and attestations must equal the plain-Python
    model of the reference (:func:`_reference_pass`)."""
    stations = [f"ST{i:02d}" for i in range(8)]
    forecasts = [
        (st, OBS_DATE, OBS_DATE + dt.timedelta(hours=3), 5 + i, 20 + i, 3 + i)
        for i, st in enumerate(stations)
    ]
    observations = [
        (st, OBS_DATE + dt.timedelta(hours=6), temp, w)
        for i, st in enumerate(stations)
        for temp, w in [(4.0 + i, 3 + i), (22.0 + i, 2 + i)]
    ]
    # five events in different stages; deterministic ids
    specs = [
        ("completed-a", OBS_DATE, SIGN_DATE, stations[:3]),
        ("completed-b", OBS_DATE, SIGN_DATE, stations[2:6]),  # overlaps a
        ("running", NOW - dt.timedelta(hours=3), NOW + dt.timedelta(days=2), stations[4:7]),
        ("live", NOW + dt.timedelta(days=1), NOW + dt.timedelta(days=3), stations[:2]),
        ("empty-completed", OBS_DATE, SIGN_DATE, [stations[7]]),
    ]

    lake_root = str(tmp_path_factory.mktemp("lake_fleet"))
    store = EventStore(spark, str(tmp_path_factory.mktemp("store_fleet")))
    _write_lake(spark, lake_root, forecasts, observations)
    events, entries, choices = [], [], []
    for n, (name, obs, sign, locs) in enumerate(specs):
        ev_id = f"{n:08d}-0000-7000-8000-00000000000{n}"
        store.add_event(ev_id, obs, sign, locs, 6, 6, 1)
        events.append((ev_id, obs, sign, locs))
        if name != "empty-completed":
            for k in range(3):
                entry = f"{n:08d}-{k:04d}-7000-8000-0000000000ff"
                picks = [(locs[0], ["over", "par", "under"][k], None, "par")]
                store.add_entry(entry, ev_id, picks)
                entries.append((entry, ev_id))
                choices += [(entry, *p) for p in picks]

    statuses, entry_rows, signatures, weather = _reference_pass(
        events, entries, choices, forecasts, observations, NOW
    )
    got = run.run_etl_batch(store, lake_root, NOW)
    assert got == statuses
    # the entry-less completed event has no winners -> stays unsigned
    assert set(got.values()) == {"signed", "running", "live", "completed"}
    assert sorted(got.values()).count("signed") == 2
    assert sorted(
        (r.id, r.event_id, r.score, r.base_score) for r in store.read("entries").collect()
    ) == entry_rows
    assert sorted(
        (r.id, r.attestation_signature and bytes(r.attestation_signature))
        for r in store.read("events").collect()
    ) == signatures
    assert sorted(
        (w.event_id, w.station_id, w.observed and tuple(w.observed), tuple(w.forecasted))
        for w in store.read("weather").collect()
    ) == weather


def test_backend_selection_and_explicit_parquet(spark, tmp_path_factory):
    """Parquet is the only backend: ``"parquet"`` opens, any other
    value raises, and a store written as Delta tables is refused rather
    than read as plain parquet (which would surface deleted rows)."""
    EventStore(spark, str(tmp_path_factory.mktemp("be")), backend="parquet")
    for other in ("auto", "delta", "duckdb"):
        with pytest.raises(ValueError, match="backend"):
            EventStore(spark, str(tmp_path_factory.mktemp("be")), backend=other)
    logged = tmp_path_factory.mktemp("be_log")
    (logged / "entries" / "_delta_log").mkdir(parents=True)
    marked = tmp_path_factory.mktemp("be_marked")
    (marked / "_db_version.json").write_text(json.dumps({"version": 2, "backend": "delta"}))
    for root in (logged, marked):
        with pytest.raises(ValueError, match="deleted rows"):
            EventStore(spark, str(root))


def test_inserts_enforce_primary_keys(spark, tmp_path_factory):
    """``events.id`` and ``entries.id`` are primary keys, as in the
    reference's schema: a second insert under an existing id raises and
    leaves one row."""
    store = EventStore(spark, str(tmp_path_factory.mktemp("pk")))
    ev = store.add_event("ev-1", OBS_DATE, SIGN_DATE, ["PFNO"], 4, 6, 1)
    with pytest.raises(ValueError, match="already exists"):
        store.add_event(ev, OBS_DATE, SIGN_DATE, ["PFNO"], 4, 6, 1)
    store.add_entry(E1, ev, [("PFNO", "par", None, None)])
    with pytest.raises(ValueError, match="already exists"):
        store.add_entry(E1, ev, [("PFNO", "over", None, None)])
    assert store.read("events").count() == 1
    assert [r.station for r in store.read("choices").collect()] == ["PFNO"]
    assert store.read("entries").count() == 1


def test_add_entry_during_score_rewrite_is_kept(spark, tmp_path_factory):
    """An entry added while ``update_scores`` rewrites ``entries`` is
    not lost: the rewrite starts the insert on another thread and waits
    up to 2 s for it before writing; the store lock holds the insert
    until the swap is done, so both entries survive."""
    store = EventStore(spark, str(tmp_path_factory.mktemp("race")))
    ev = store.add_event(None, OBS_DATE, SIGN_DATE, ["PFNO"], 4, 6, 1)
    store.add_entry(E1, ev, [("PFNO", "par", None, None)])
    late = threading.Thread(target=store.add_entry, args=(E2, ev, [("PFNO", "over", None, None)]))
    rewrite = store._rewrite_frame

    def rewrite_with_late_entry(table, df):
        late.start()
        late.join(timeout=2)
        rewrite(table, df)

    store._rewrite_frame = rewrite_with_late_entry
    store.update_scores(local_frame(spark, [(E1, 10, 1)], "entry_id string, score long, base_score long"))
    late.join(timeout=60)
    assert not late.is_alive()
    assert {r.id: r.score for r in store.read("entries").collect()} == {E1: 10, E2: None}
    assert store.read("choices").count() == 2


def test_concurrent_add_entry_respects_capacity(spark, tmp_path_factory):
    """Six threads race to add an entry to an event with room for
    three: the store lock makes each capacity check and its append one
    step, so exactly three entries land and the rest see "event full"."""
    store = EventStore(spark, str(tmp_path_factory.mktemp("capacity")))
    ev = store.add_event(None, OBS_DATE, SIGN_DATE, ["PFNO"], 3, 6, 1)
    refused = []

    def add(n):
        try:
            store.add_entry(f"entry-{n}", ev, [("PFNO", "par", None, None)])
        except ValueError as exc:
            refused.append(str(exc))

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=add, args=(n,)) for n in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert store.read("entries").count() == 3
    assert store.read("choices").count() == 3
    assert refused == ["event full"] * 3


def test_update_scores_rejects_duplicate_entry_ids(spark, tmp_path_factory):
    """Duplicate entry_ids in the score frame must fail LOUDLY
    (ADVICE r8): the merge's left-join would silently duplicate entry
    rows, so an up-front uniqueness check refuses the frame."""
    from pyspark.sql import functions as F

    store = EventStore(spark, str(tmp_path_factory.mktemp("dup_scores")))
    scored = spark.createDataFrame(
        [("E1", 10, 10), ("E1", 20, 20), ("E2", 5, 5)],
        "entry_id string, score long, base_score long",
    )
    with pytest.raises(ValueError, match="duplicate entry_id"):
        store.update_scores(scored)
    # unique frame against an empty store is a clean no-op pass
    store.update_scores(scored.groupBy("entry_id").agg(
        F.max("score").alias("score"), F.max("base_score").alias("base_score")
    ))


def _entry_rows(store):
    return sorted(
        (r.id, r.score, r.base_score, r.updated_at) for r in store.read("entries").collect()
    )


def _record_calls(monkeypatch, store, *names):
    """Record every call of the store's ``names`` methods and still run
    them; returns {name: [args, ...]}."""
    calls = {n: [] for n in names}
    for n in names:
        real = getattr(store, n)

        def wrapper(*args, _n=n, _real=real, **kw):
            calls[_n].append(args)
            return _real(*args, **kw)

        monkeypatch.setattr(store, n, wrapper)
    return calls


def test_pass_without_observed_event_runs_no_scoring(spark, tmp_path_factory, monkeypatch):
    """Before its observation window opens an event is live and has no
    observation rows: the pass reads neither entries nor choices, runs
    no score update and leaves ``entries`` as it was."""
    store, lake_root, event_id = _build_fixture(spark, tmp_path_factory)
    before = _entry_rows(store)
    calls = _record_calls(monkeypatch, store, "read", "update_scores")
    assert run.run_etl_batch(store, lake_root, OBS_DATE - dt.timedelta(hours=1)) == {
        event_id: "live"
    }
    assert calls["update_scores"] == []
    assert {args[0] for args in calls["read"]} == {"events"}
    assert _entry_rows(store) == before


def test_pass_with_observed_events_without_entries_keeps_scores(spark, tmp_path_factory):
    """An observed, completed event with no entries next to a live event
    with entries: the pass succeeds, the entry-less event stays
    completed (no winners to sign) and no score changes."""
    lake_root = str(tmp_path_factory.mktemp("lake_noentries"))
    _write_lake(
        spark, lake_root,
        [("PFNO", OBS_DATE, OBS_DATE + dt.timedelta(hours=3), 5, 20, 3)],
        [("PFNO", OBS_DATE + dt.timedelta(hours=6), 7.0, 3)],
    )
    store = EventStore(spark, str(tmp_path_factory.mktemp("store_noentries")))
    observed = store.add_event("observed", OBS_DATE, SIGN_DATE, ["PFNO"], 4, 6, 1)
    live = store.add_event(
        "live", NOW + dt.timedelta(days=1), NOW + dt.timedelta(days=2), ["PFNO"], 4, 6, 1
    )
    store.add_entry(E1, live, [("PFNO", "par", None, None)])
    before = _entry_rows(store)
    assert run.run_etl_batch(store, lake_root, NOW) == {observed: "completed", live: "live"}
    assert _entry_rows(store) == before
    assert [(w.event_id, w.observed.temp_low) for w in store.read("weather").collect()] == [
        (observed, 7)
    ]


def _lake_scans(df, lake_root):
    """The parquet scans in ``df``'s physical plan that read below
    ``lake_root``."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            paths = node.relation().location().rootPaths().mkString(",")
            if lake_root.rstrip("/") in paths:
                scans.append(paths)
    return scans


def test_weather_append_and_score_update_scan_no_lake(spark, tmp_path_factory, monkeypatch):
    """The daily rollups are executed once per pass and cross back as
    local frames, so the frames handed to ``append_frame`` (the weather
    snapshot) and ``update_scores`` (the scores) plan no scan of the
    lake; the store's own tables are still scanned."""
    store, lake_root, event_id = _build_fixture(spark, tmp_path_factory)
    calls = _record_calls(monkeypatch, store, "append_frame", "update_scores")
    assert run.run_etl_batch(store, lake_root, NOW) == {event_id: "signed"}
    (table, snapshot), = calls["append_frame"]
    (scored,), = calls["update_scores"]
    assert table == "weather"
    assert _lake_scans(snapshot, lake_root) == []
    assert _lake_scans(scored, lake_root) == []
    assert _lake_scans(scored, store.root) != []  # entries and choices
    entries = {r.id: r.score for r in store.read("entries").collect()}
    assert entries == {e: GOLDEN_SCORES[e] for e in entries}
