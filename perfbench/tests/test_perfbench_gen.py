"""The seeded generator: same seed, same bytes; golden fixture intact.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
No Spark session is started.
"""

from __future__ import annotations

import filecmp
import gzip
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402


def _ingest_bytes(seed: int) -> list[bytes]:
    sts = gen.stations(seed, 60, 4)
    out = [gen.station_index_gz(sts)]
    ids = [s.station_id for s in sts if s.indexed]
    for k in range(2):
        tick = gen.ingest_tick(seed, sts, k)
        out += [gen.dwml_document(tick, ids[:50]), gen.dwml_document(tick, ids[50:]), tick.metar]
    return out


def test_same_seed_gives_identical_ingest_bytes():
    assert _ingest_bytes(7) == _ingest_bytes(7)
    assert _ingest_bytes(7) != _ingest_bytes(8)


def test_same_seed_gives_identical_serve_inputs():
    a, b = gen.serve_inputs(7), gen.serve_inputs(7)
    assert a == b
    assert gen.serve_inputs(8).events != a.events


def test_same_seed_gives_identical_analytics_files(tmp_path):
    gen.write_analytics_tables(7, str(tmp_path / "a"))
    gen.write_analytics_tables(7, str(tmp_path / "b"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names and not mismatch and not errors


def test_golden_scores_and_winner_bytes():
    inputs = gen.serve_inputs(3)
    assert {e: inputs.expected_scores[e] for e in gen.GOLDEN_ENTRIES} == gen.GOLDEN_SCORES
    assert inputs.expected_winners[gen.GOLDEN_EVENT] == [0, 2, 1]
    assert gen.winning_bytes([0, 2, 1]) == b"".join(i.to_bytes(8, "big") for i in (0, 2, 1))


def test_golden_scores_from_the_scoring_rule_alone():
    forecast = {s: (lo, hi, w) for s, lo, hi, w in gen.GOLDEN_FORECASTS}
    observed = {s: (lo, hi, w) for s, lo, hi, w in gen.GOLDEN_OBSERVATIONS}
    picks: dict[str, list] = {}
    for e, *pick in gen.GOLDEN_CHOICES:
        picks.setdefault(e, []).append(tuple(pick))
    scores = {e: gen.entry_score(e, picks[e], forecast, observed) for e in gen.GOLDEN_ENTRIES}
    assert scores == gen.GOLDEN_SCORES
    assert gen.winner_indices(scores) == gen.GOLDEN_WINNERS


def test_generated_events_have_a_signable_and_an_unsigned_share():
    inputs = gen.serve_inputs(5, n_events=10, n_signable=3)
    assert len(inputs.expected_winners) == 4  # golden + 3
    assert len(inputs.unsigned_events) == 7
    assert all(len(w) == 3 for w in inputs.expected_winners.values())


def test_tick_documents_parse_to_the_expected_rows():
    from noaa_data_pipeline_spark.weather import sources

    sts = gen.stations(9, 60, 4)
    tick = gen.ingest_tick(9, sts, 0)
    indexed = [s for s in sts if s.indexed]
    assert len(sources.parse_station_index(gen.station_index_gz(sts))) == len(sts)
    locations, layouts, readings, created = sources.parse_dwml(
        gen.dwml_document(tick, [s.station_id for s in indexed[:50]])
    )
    assert len(locations) == 50 + 2  # two decoys no station matches
    assert created is not None and layouts
    metars = sources.parse_metar(tick.metar)
    complete = [m for m in metars if m[4] is not None and m[0] in {s.station_id for s in indexed}]
    assert len(complete) == tick.expected["observations"]
    assert tick.expected["forecasts"] == gen.GRID_SLOTS * len(indexed)
    assert gzip.decompress(tick.metar).startswith(b"<?xml")
