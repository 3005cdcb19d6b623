"""Seeded input generator for the benchmark workloads.

Everything here is pure Python and a function of ``seed`` only: the
same seed gives byte-identical XML documents, parquet files and rows.
The generator also computes the answers the engine must reproduce
(tick row counts, entry scores, winner indices), so the checks never
ask the engine under test for its own expectations.

Three input families:

- ingest: a gzip station index, DWML forecast fragments that the fake
  transport assembles into <=50-station documents, and METAR documents
  with some incomplete rows;
- serve: hourly lake snapshots, the FIXTURES.md section 5 golden rows
  and golden event, and generated events with entries and picks;
- analytics: TPC-H-ish tables plus events, documents and embeddings in
  the same schemas as the repo's sf* testdata.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import decimal
import gzip
import random
import string
from xml.sax.saxutils import escape

US_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA",
    "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD",
    "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ",
    "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC",
    "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY",
]

GRID_SLOTS = 7 * 8 + 1  # flatten: every 3 h from now through now + 7 days

# --- FIXTURES.md section 5: the reference's golden ETL fixture ------------

OBS_DATE = dt.datetime(2024, 8, 12)
SIGN_DATE = dt.datetime(2024, 8, 13)
SERVE_NOW = dt.datetime(2024, 8, 13, 0, 5)
GOLDEN_STATIONS = ["PFNO", "KSAW", "PAPG", "KWMC"]
GOLDEN_EVENT = "00000000-0000-7000-8000-0000000000ff"
GOLDEN_FORECASTS = [("PFNO", 9, 35, 8), ("KSAW", 17, 25, 3), ("PAPG", 14, 17, 6), ("KWMC", 31, 33, 11)]
GOLDEN_OBSERVATIONS = [
    ("PFNO", 9.4, 35.0, 11), ("KSAW", 22.0, 25.0, 10),
    ("PAPG", 15.0, 16.0, 6), ("KWMC", 32.8, 34.4, 11),
]


def uuid7_at(ts: dt.datetime, millis_extra: int, rand_bits: int = 0) -> str:
    millis = int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) + millis_extra
    h = f"{millis:012x}"
    r = f"{rand_bits:016x}"
    return f"{h[:8]}-{h[8:]}-7{r[:3]}-8{r[3:6]}-{r[6:16]}00"[:36]


_ENTRY_BASE = dt.datetime(2024, 8, 11)
GOLDEN_ENTRIES = [uuid7_at(_ENTRY_BASE, ms) for ms in (100, 200, 300, 400)]
_E1, _E2, _E3, _E4 = GOLDEN_ENTRIES
GOLDEN_CHOICES = [
    (_E1, "PFNO", "under", None, "over"), (_E1, "KSAW", None, None, "over"),
    (_E1, "KWMC", "par", "under", "par"), (_E2, "PFNO", "par", None, "par"),
    (_E2, "KSAW", "par", None, "over"), (_E2, "KWMC", "par", "under", None),
    (_E3, "PFNO", "par", None, "under"), (_E3, "KSAW", "over", None, "over"),
    (_E3, "KWMC", "par", None, "under"), (_E4, "PFNO", "over", None, "par"),
    (_E4, "KSAW", None, "under", "over"), (_E4, "KWMC", "par", None, "under"),
]
GOLDEN_SCORES = {_E1: 409899, _E2: 309799, _E3: 409699, _E4: 109599}
GOLDEN_WINNERS = [0, 2, 1]

# --- shared scoring arithmetic (the reference's rule, FIXTURES.md 5) ------

METRICS = ("temp_low", "temp_high", "wind_speed")


def round_half_away(x: float) -> int:
    return int(decimal.Decimal(x).quantize(0, rounding=decimal.ROUND_HALF_UP))


def entry_score(entry_id: str, picks, forecast: dict, observed: dict) -> int:
    """picks: [(station, temp_low, temp_high, wind_speed)];
    forecast/observed: station -> (temp_low, temp_high, wind_speed)."""
    base = 0
    for station, *choice in picks:
        if station not in forecast or station not in observed:
            continue
        for i, pick in enumerate(choice):
            if pick is None:
                continue
            f = forecast[station][i]
            o = observed[station][i]
            o = o if i == 2 else round_half_away(o)
            if pick == "par" and f == o:
                base += 20
            elif (pick == "over" and f < o) or (pick == "under" and f > o):
                base += 10
    millis = int(entry_id.replace("-", "")[:12], 16)
    return base * 10000 + 9999 - millis % 10000


def winner_indices(scores: dict[str, int], k: int = 3) -> list[int]:
    canonical = sorted(scores)
    ranked = sorted(canonical, key=lambda e: (-scores[e], e))[:k]
    return [canonical.index(e) for e in ranked]


def winning_bytes(indices: list[int]) -> bytes:
    return b"".join(i.to_bytes(8, "big") for i in indices)


# --- stations -------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class Station:
    station_id: str
    name: str
    state: str
    country: str
    lat: float
    lon: float

    @property
    def indexed(self) -> bool:
        """Survives the daemon's country/state filter."""
        return self.country == "US" and self.state in US_STATES


def stations(seed: int, n_us: int = 200, n_foreign: int = 12) -> list[Station]:
    """``n_us`` indexed stations plus ``n_foreign`` that the US filter
    drops. Ids and 2-decimal coordinates are unique, so every DWML
    location matches exactly one station."""
    rng = random.Random(f"stations:{seed}")
    taken_ids = set(GOLDEN_STATIONS)
    taken_xy: set[tuple[float, float]] = set()
    out = []
    for i in range(n_us + n_foreign):
        while True:
            sid = "K" + "".join(rng.choice(string.ascii_uppercase) for _ in range(3))
            if sid not in taken_ids:
                break
        while True:
            xy = (round(rng.uniform(25.0, 49.0), 2), round(rng.uniform(-124.0, -67.0), 2))
            if xy not in taken_xy:
                break
        taken_ids.add(sid)
        taken_xy.add(xy)
        if i < n_us:
            state, country = rng.choice(US_STATES), "US"
        else:
            state, country = rng.choice([("ON", "CA"), ("GU", "US"), ("BC", "CA")])
        out.append(Station(sid, f"{sid} Field {i}", state, country, *xy))
    return out


def station_index_gz(sts: list[Station]) -> bytes:
    rows = "".join(
        f"<Station><station_id>{s.station_id}</station_id>"
        f"<station_name>{escape(s.name)}</station_name><state>{s.state}</state>"
        f"<country>{s.country}</country><latitude>{s.lat:.2f}</latitude>"
        f"<longitude>{s.lon:.2f}</longitude></Station>\n"
        for s in sts
    )
    doc = f'<?xml version="1.0"?>\n<wx_station_index>\n{rows}</wx_station_index>\n'
    return gzip.compress(doc.encode(), mtime=0)


# --- ingest: DWML + METAR -------------------------------------------------

INGEST_BASE = dt.datetime(2024, 8, 11, 0, 0)

# (element, type attribute, layout, low, high): the DWML series one
# location carries; the layouts are 24 h/6 h/12 h ranges over a week
_DWML_SERIES = [
    ("temperature", "maximum", "k-p24h-n7-1", 60, 100),
    ("temperature", "minimum", "k-p24h-n7-2", 30, 70),
    ("wind-speed", "sustained", "k-p6h-n28-3", 0, 30),
    ("direction", "wind", "k-p6h-n28-3", 0, 359),
    ("humidity", "maximum relative", "k-p12h-n14-4", 40, 100),
    ("humidity", "minimum relative", "k-p12h-n14-4", 5, 60),
    ("precipitation", "liquid", "k-p6h-n28-3", 0, 2),
    ("probability-of-precipitation", "12 hour", "k-p12h-n14-4", 0, 100),
]
_LAYOUTS = {
    "k-p24h-n7-1": (0, 24, 7),
    "k-p24h-n7-2": (12, 24, 7),
    "k-p6h-n28-3": (0, 6, 28),
    "k-p12h-n14-4": (0, 12, 14),
}


def _rfc(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S+00:00")


@dataclasses.dataclass
class IngestTick:
    now: dt.datetime
    fragments: dict[str, str]  # station_id -> <location> + <parameters> XML
    decoys: str  # locations no station matches (dropped by the join)
    layouts: str
    creation: str
    metar: bytes
    expected: dict[str, int]


def ingest_tick(seed: int, sts: list[Station], k: int) -> IngestTick:
    """Inputs served during tick ``k`` (now = INGEST_BASE + k hours)."""
    rng = random.Random(f"tick:{seed}:{k}")
    now = INGEST_BASE + dt.timedelta(hours=k)
    layouts = []
    for key, (offset, step, n) in _LAYOUTS.items():
        starts = "".join(
            f"<start-valid-time>{_rfc(now + dt.timedelta(hours=offset + step * i))}</start-valid-time>"
            for i in range(n)
        )
        layouts.append(f"<time-layout><layout-key>{key}</layout-key>{starts}</time-layout>")
    fragments = {}
    for s in sts:
        if not s.indexed:
            continue
        series = []
        for tag, typ, layout, lo, hi in _DWML_SERIES:
            n = _LAYOUTS[layout][2]
            vals = "".join(
                "<value/>" if rng.random() < 0.04
                else f"<value>{rng.uniform(lo, hi):.2f}</value>" if tag == "precipitation"
                else f"<value>{rng.randint(lo, hi)}</value>"
                for _ in range(n)
            )
            series.append(f'<{tag} type="{typ}" time-layout="{layout}">{vals}</{tag}>')
        fragments[s.station_id] = (
            f'<location><location-key>@KEY@</location-key><point latitude="{s.lat:.2f}" '
            f'longitude="{s.lon:.2f}"/></location>'
            f'<parameters applicable-location="@KEY@">{"".join(series)}</parameters>'
        )
    decoys = "".join(
        f'<location><location-key>decoy{i}</location-key><point latitude="{-10.0 - i:.2f}" '
        f'longitude="{10.0 + i:.2f}"/></location>'
        for i in range(2)
    )
    metars, complete = [], 0
    obs_time = (now - dt.timedelta(minutes=7)).strftime("%Y-%m-%dT%H:%M:%SZ")
    for s in sts:
        missing_temp = rng.random() < 0.05
        temp = "" if missing_temp else f"<temp_c>{rng.uniform(-5, 35):.1f}</temp_c>"
        metars.append(
            f"<METAR><station_id>{s.station_id}</station_id>"
            f"<observation_time>{obs_time}</observation_time>"
            f"<latitude>{s.lat:.2f}</latitude><longitude>{s.lon:.2f}</longitude>{temp}"
            f"<wind_dir_degrees>{rng.randint(0, 359)}</wind_dir_degrees>"
            f"<wind_speed_kt>{rng.randint(0, 30)}</wind_speed_kt>"
            f"<dewpoint_c>{rng.uniform(-10, 20):.1f}</dewpoint_c></METAR>"
        )
        complete += s.indexed and not missing_temp
    metar_doc = f'<?xml version="1.0"?>\n<response><data>{"".join(metars)}</data></response>\n'
    n_indexed = sum(s.indexed for s in sts)
    return IngestTick(
        now=now,
        fragments=fragments,
        decoys=decoys,
        layouts="".join(layouts),
        creation=_rfc(now - dt.timedelta(minutes=15)),
        metar=gzip.compress(metar_doc.encode(), mtime=0),
        expected={
            "forecasts": GRID_SLOTS * n_indexed,
            "observations": complete,
            "forecast_batches_failed": 0,
        },
    )


def dwml_document(tick: IngestTick, station_ids: list[str]) -> bytes:
    """The DWML document the forecast endpoint serves for one batch."""
    locs = "".join(
        tick.fragments[sid].replace("@KEY@", f"point{i + 1}") for i, sid in enumerate(station_ids)
    )
    return (
        '<?xml version="1.0"?>\n<dwml version="1.0"><head><product>'
        f'<creation-date refresh-frequency="PT1H">{tick.creation}</creation-date>'
        f"</product></head><data>{locs}{tick.decoys}{tick.layouts}</data></dwml>\n"
    ).encode()


# --- serve: lake snapshots, events, entries -------------------------------

LAKE_LAST = dt.datetime(2024, 8, 12, 5, 0)  # the newest hourly snapshot
FORECAST_SLOTS = 16  # each snapshot re-reports 48 h of 3 h slots
_UNITS = ("fahrenheit", "knots", "degrees true", "percent", "inches", "percent")


@dataclasses.dataclass
class ServeInputs:
    stations: list[Station]
    snapshots: list[tuple[dt.datetime, list[tuple], list[tuple]]]  # (ingested_at, forecasts, observations)
    golden_forecasts: tuple[dt.datetime, list[tuple]]
    golden_observations: tuple[dt.datetime, list[tuple]]
    events: list[tuple]  # EVENT_SCHEMA rows
    entries: list[tuple]  # ENTRY_SCHEMA rows
    choices: list[tuple]  # CHOICE_SCHEMA rows
    expected_scores: dict[str, int]
    expected_winners: dict[str, list[int]]  # signable event -> winner indices
    unsigned_events: list[str]


def _forecast_values(seed: int, station: str, begin: dt.datetime) -> tuple[int, int, int]:
    """A station's forecast for one 3 h slot. Identical in every
    snapshot that re-reports the slot, so the daily rollup is known."""
    r = random.Random(f"fc:{seed}:{station}:{begin.isoformat()}")
    lo = r.randint(40, 70)
    return lo, lo + r.randint(0, 25), r.randint(0, 25)


def forecast_row(st: Station, generated_at, begin, hi, lo, wind) -> tuple:
    return (
        st.station_id, st.name, st.lat, st.lon, generated_at, begin,
        begin + dt.timedelta(hours=3), hi, lo, _UNITS[0], wind, _UNITS[1], 180, _UNITS[2],
        80, 20, _UNITS[3], 0.1, _UNITS[4], 30, _UNITS[5],
    )


def observation_row(st: Station, generated_at, temp, wind) -> tuple:
    return (
        st.station_id, st.name, st.lat, st.lon, generated_at, temp, "celcius",
        200, "degrees true", wind, "knots", 5.0, "celcius",
    )


def serve_inputs(
    seed: int,
    n_stations: int = 200,
    n_hours: int = 4,
    n_events: int = 10,
    n_signable: int = 1,
    entries_per_event: int = 20,
) -> ServeInputs:
    rng = random.Random(f"serve:{seed}")
    sts = [s for s in stations(seed, n_stations, 0)]
    memo: dict[tuple[str, dt.datetime], tuple[int, int, int]] = {}

    def fc_values(station: str, begin: dt.datetime) -> tuple[int, int, int]:
        if (station, begin) not in memo:
            memo[station, begin] = _forecast_values(seed, station, begin)
        return memo[station, begin]

    snapshots = []
    for h in range(n_hours):
        at = LAKE_LAST - dt.timedelta(hours=n_hours - 1 - h)
        first = at.replace(hour=at.hour - at.hour % 3)
        fc = []
        for s in sts:
            for i in range(FORECAST_SLOTS):
                begin = first + dt.timedelta(hours=3 * i)
                lo, hi, wind = fc_values(s.station_id, begin)
                fc.append(forecast_row(s, at - dt.timedelta(minutes=20), begin, hi, lo, wind))
        ob = [
            observation_row(
                s, at - dt.timedelta(minutes=7),
                rng.randint(-50, 350) / 10, rng.randint(0, 30),
            )
            for s in sts
        ]
        snapshots.append((at, fc, ob))

    gst = {sid: Station(sid, f"{sid} name", "AK", "US", 40.0, -90.0) for sid in GOLDEN_STATIONS}
    golden_fc = [
        forecast_row(gst[sid], OBS_DATE - dt.timedelta(days=1), OBS_DATE, hi, lo, wind)
        for sid, lo, hi, wind in GOLDEN_FORECASTS
    ]
    golden_ob = [
        observation_row(gst[sid], OBS_DATE + dt.timedelta(hours=6), temp, w)
        for sid, lo, hi, wind in GOLDEN_OBSERVATIONS
        for temp, w in [(lo, wind), (hi, max(wind - 2, 0))]
    ]

    # ground truth the ETL must reproduce: the OBS_DATE daily rollups
    day_end = OBS_DATE + dt.timedelta(days=1)
    forecast: dict[str, tuple] = {}
    observed: dict[str, list] = {}
    for s in sts:
        slots = [fc_values(s.station_id, OBS_DATE + dt.timedelta(hours=3 * i)) for i in range(8)]
        forecast[s.station_id] = (
            min(v[0] for v in slots), max(v[1] for v in slots), max(v[2] for v in slots),
        )
    for _, _, ob in snapshots:
        for row in ob:
            if OBS_DATE <= row[4] <= day_end:
                observed.setdefault(row[0], []).append((row[5], row[9]))
    observed_daily = {
        sid: (min(t for t, _ in v), max(t for t, _ in v), max(w for _, w in v))
        for sid, v in observed.items()
    }
    forecast.update({sid: (lo, hi, w) for sid, lo, hi, w in GOLDEN_FORECASTS})
    observed_daily.update({sid: (lo, hi, w) for sid, lo, hi, w in GOLDEN_OBSERVATIONS})

    created = dt.datetime(2024, 8, 10)
    events = [
        (GOLDEN_EVENT, 4, 1, 6, SIGN_DATE, OBS_DATE, list(GOLDEN_STATIONS),
         None, None, None, created, created)
    ]
    entries = [(e, GOLDEN_EVENT, None, None, created, created) for e in GOLDEN_ENTRIES]
    choices = list(GOLDEN_CHOICES)
    by_event: dict[str, list[str]] = {GOLDEN_EVENT: list(GOLDEN_ENTRIES)}
    picks: dict[str, list] = {}
    for e, *pick in GOLDEN_CHOICES:
        picks.setdefault(e, []).append(tuple(pick))
    unsigned = []
    for j in range(n_events):
        ev_id = f"{rng.getrandbits(32):08x}-0000-4000-8000-{j:012x}"
        locs = [s.station_id for s in rng.sample(sts, rng.randint(4, 6))]
        # the first n_signable events are past their signing date at
        # SERVE_NOW; the rest are completed but not yet signable
        signing = SIGN_DATE if j < n_signable else SERVE_NOW + dt.timedelta(days=1)
        if j >= n_signable:
            unsigned.append(ev_id)
        events.append((ev_id, entries_per_event + 5, 3, 6, signing, OBS_DATE, locs,
                       None, None, None, created, created))
        by_event[ev_id] = []
        for n in range(entries_per_event):
            e = uuid7_at(_ENTRY_BASE, rng.randint(0, 10**7), rng.getrandbits(64))
            by_event[ev_id].append(e)
            entries.append((e, ev_id, None, None, created, created))
            chosen = rng.sample(locs, rng.randint(1, 3))
            picks[e] = []
            budget = 6
            for station in chosen:
                choice = [rng.choice(["over", "par", "under", None]) for _ in METRICS]
                choice = [c if budget > 0 else None for c in choice]
                budget -= sum(c is not None for c in choice)
                picks[e].append((station, *choice))
                choices.append((e, station, *choice))
    expected_scores = {
        e: entry_score(e, picks.get(e, []), forecast, observed_daily)
        for ids in by_event.values()
        for e in ids
    }
    expected_winners = {
        ev: winner_indices({e: expected_scores[e] for e in ids})
        for ev, ids in by_event.items()
        if ev not in unsigned
    }
    return ServeInputs(
        stations=sts,
        snapshots=snapshots,
        golden_forecasts=(OBS_DATE - dt.timedelta(days=1), golden_fc),
        golden_observations=(OBS_DATE, golden_ob),
        events=events,
        entries=entries,
        choices=choices,
        expected_scores=expected_scores,
        expected_winners=expected_winners,
        unsigned_events=unsigned,
    )


def dropbox_rows(inputs: ServeInputs, hour: int) -> tuple[list[dict], list[dict]]:
    """One snapshot in the reference daemon's drop-box file shape
    (RFC3339 text timestamps), for the UI upload + bootstrap leg."""
    _, fc, ob = inputs.snapshots[hour]
    fc_cols = ["station_id", "station_name", "latitude", "longitude", "generated_at",
               "begin_time", "end_time", "max_temp", "min_temp", "wind_speed"]
    ob_cols = ["station_id", "station_name", "latitude", "longitude", "generated_at",
               "temperature_value", "wind_direction", "wind_speed", "dewpoint_value"]
    iso = lambda t: t.strftime("%Y-%m-%dT%H:%M:%SZ")  # noqa: E731
    fcs = [
        dict(zip(fc_cols, (r[0], r[1], r[2], r[3], iso(r[4]), iso(r[5]), iso(r[6]), r[7], r[8], r[10])))
        for r in fc
    ]
    obs = [
        dict(zip(ob_cols, (r[0], r[1], r[2], r[3], iso(r[4]), r[5], r[7], r[9], r[11])))
        for r in ob
    ]
    return fcs, obs


# --- analytics: TPC-H-ish star schema + events/documents/embeddings -------

_WORDS = (
    "the a fast key order sort table scan merge part window small hash join batch "
    "stream spark data column dup filter group shuffle index plan query row page "
    "cache block node task stage driver lake file write read"
).split()
_PART_WORDS = "blue red green cold hot small large anvil widget gear bolt spring".split()


def analytics_tables(seed: int, scale: int = 1) -> dict[str, dict[str, list]]:
    """Columns per table, in the schemas of the sf* testdata; ``scale``
    1 matches sf0.001's row counts."""
    rng = random.Random(f"analytics:{seed}")
    n_cust, n_orders, n_part, n_supp = 150 * scale, 1500 * scale, 200 * scale, 10 * scale
    day0 = dt.datetime(1995, 1, 1)
    t = {}
    t["region"] = {"r_regionkey": list(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]}
    t["customer"] = {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
                         for _ in range(n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)],
    }
    t["part"] = {
        "p_partkey": list(range(n_part)),
        "p_name": [" ".join(rng.sample(_PART_WORDS, 2)) for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
                   for _ in range(n_part)],
        "p_size": [rng.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [round(900 + rng.randrange(1000) / 10, 2) for _ in range(n_part)],
    }
    prices = rng.sample(range(100_000, 50_000_000), n_orders)
    t["orders"] = {
        "o_orderkey": list(range(n_orders)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_orders)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [p / 100 for p in prices],
        "o_orderdate": [day0 + dt.timedelta(days=rng.randrange(2400)) for _ in range(n_orders)],
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_orders)],
    }
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for ok in sorted(rng.sample(range(n_orders), n_orders * 49 // 50)):
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(day0 + dt.timedelta(days=1 + rng.randrange(2500)))
    t["lineitem"] = li
    n_ev = 1000 * scale
    ev_t0 = dt.datetime(2024, 1, 1)
    micros = sorted(rng.sample(range(30 * 86400 * 10**6), n_ev))
    t["events"] = {
        "event_id": list(range(n_ev)),
        "ts": [ev_t0 + dt.timedelta(microseconds=m) for m in micros],
        "user_id": [rng.randrange(15 * scale) for _ in range(n_ev)],
        "event_type": [rng.choice(["click", "error", "purchase", "signup", "view"]) for _ in range(n_ev)],
        "value": [rng.randint(1, 49002) / 100 for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)],
    }
    n_doc = 500
    texts = []
    for i in range(n_doc):
        if texts and rng.random() < 0.1:  # near-duplicates for the dedup plans
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randint(8, 60))]
        texts.append(" ".join(words))
    t["documents"] = {
        "doc_id": list(range(n_doc)),
        "text": texts,
        "lang": [rng.choice(["de", "en", "es", "fr", "zh"]) for _ in range(n_doc)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_doc)],
        "n_chars": [len(x) for x in texts],
    }
    t["embeddings"] = {
        "vec_id": list(range(500)),
        "embedding": [[rng.gauss(0, 0.12) for _ in range(64)] for _ in range(500)],
        "label": [rng.randrange(10) for _ in range(500)],
    }
    return t


ANALYTICS_TYPES = {
    "c_nationkey": "int32", "s_nationkey": "int32", "n_nationkey": "int32",
    "n_regionkey": "int32", "r_regionkey": "int32", "p_size": "int32",
    "l_linenumber": "int32", "label": "int32", "embedding": "list<float>",
}


def write_analytics_tables(seed: int, out_dir: str, scale: int = 1) -> None:
    """One parquet file per table, ``<out_dir>/<name>.parquet``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in analytics_tables(seed, scale).items():
        arrays = {}
        for col, values in cols.items():
            typ = ANALYTICS_TYPES.get(col)
            if typ == "list<float>":
                arrays[col] = pa.array(values, pa.list_(pa.float32()))
            elif isinstance(values[0], dt.datetime):
                arrays[col] = pa.array(values, pa.timestamp("us"))
            elif typ:
                arrays[col] = pa.array(values, getattr(pa, typ)())
            else:
                arrays[col] = pa.array(values)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))


def oracle_seckey(seed: int) -> bytes:
    """The oracle's attestation key for a run (a valid secp256k1 scalar)."""
    import hashlib

    return hashlib.sha256(f"oracle:{seed}".encode()).digest()
