"""Ingestion sources: station index, METAR observations, DWML forecasts.

The XML fetch/parse is driver-side Python (SURVEY §2 S1-S5 — the
reference's token-bucket HTTP client is operational plumbing, not a
data-plane operator); everything relational — the US-state filter,
required-field row drops, and the station-index semi-join — is a
Spark plan.

Scale: station index, METAR and DWML documents are single-digit-MB
hourly files. The parsed tuples cross into Spark once, as one Arrow
table per frame (:func:`.schemas.local_frame`), so each frame plans as a
``LocalTableScan`` and no Python worker runs while the tick's plans
execute; they then become the broadcast side of joins against the
lake.
"""

from __future__ import annotations

import gzip
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import local_frame

# The 50-state whitelist the reference filters the station index by
# (daemon/src/coordinates.rs:34-124).
US_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA",
    "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD",
    "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ",
    "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC",
    "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY",
]


def _maybe_gunzip(payload: bytes) -> bytes:
    return gzip.decompress(payload) if payload[:2] == b"\x1f\x8b" else payload


def parse_station_index(xml_bytes: bytes) -> list[tuple]:
    """stations.cache.xml -> (station_id, name, state, country, lat, lon)
    rows (reference coordinates.rs:126-161; S3)."""
    root = ET.fromstring(_maybe_gunzip(xml_bytes).decode("utf-8", "replace"))
    rows = []
    for st in root.iter("Station"):
        get = lambda tag: (st.findtext(tag) or "").strip()  # noqa: E731
        try:
            lat, lon = float(get("latitude")), float(get("longitude"))
        except ValueError:
            continue
        rows.append((get("station_id"), get("station_name"), get("state"), get("country"), lat, lon))
    return rows


def station_index_df(spark: SparkSession, xml_bytes: bytes) -> DataFrame:
    """S3 as a plan: parse driver-side, then the country/state filter
    is a Catalyst predicate."""
    raw = local_frame(
        spark,
        parse_station_index(xml_bytes),
        "station_id string, station_name string, state string, country string, "
        "latitude double, longitude double",
    )
    return (
        raw.filter((F.col("country") == "US") & F.col("state").isin(US_STATES))
        .select("station_id", "station_name", "latitude", "longitude")
    )


def parse_metar(xml_bytes: bytes) -> list[tuple]:
    """metars.cache.xml -> raw observation tuples (S5 parse half,
    download_observations.rs:125-222). Missing fields surface as None
    so the drop policy stays in the Spark plan."""
    root = ET.fromstring(_maybe_gunzip(xml_bytes).decode("utf-8", "replace"))
    rows = []
    for m in root.iter("METAR"):
        get = lambda tag: m.findtext(tag)  # noqa: E731
        num = lambda tag: (  # noqa: E731
            None if get(tag) is None or get(tag).strip() == "" else float(get(tag))
        )
        rows.append(
            (
                get("station_id"),
                get("observation_time"),
                num("latitude"),
                num("longitude"),
                num("temp_c"),
                num("wind_dir_degrees"),
                num("wind_speed_kt"),
                num("dewpoint_c"),
            )
        )
    return rows


def metar_df(spark: SparkSession, xml_bytes: bytes) -> DataFrame:
    return local_frame(
        spark,
        parse_metar(xml_bytes),
        "station_id string, observation_time string, latitude double, longitude double, "
        "temp_c double, wind_dir_degrees double, wind_speed_kt double, dewpoint_c double",
    )


def observations_from_metar(metars: DataFrame, stations: DataFrame) -> DataFrame:
    """S5/P8 relational half: drop rows missing temp/coords/time
    (download_observations.rs:243-250), keep only indexed stations,
    attach station_name — a broadcast join standing in for the
    reference's per-row HashMap lookup. Output matches
    OBSERVATION_SCHEMA minus the unit-code constants added here."""
    cleaned = metars.dropna(subset=["temp_c", "latitude", "longitude", "observation_time"])
    st = F.broadcast(stations.select("station_id", "station_name"))
    return (
        cleaned.join(st, "station_id")  # inner = semi-join + name attach
        .select(
            "station_id",
            "station_name",
            "latitude",
            "longitude",
            F.to_timestamp("observation_time").alias("generated_at"),
            F.col("temp_c").alias("temperature_value"),
            F.lit("celcius").alias("temperature_unit_code"),
            F.col("wind_dir_degrees").cast("long").alias("wind_direction"),
            F.lit("degrees true").alias("wind_direction_unit_code"),
            F.col("wind_speed_kt").cast("long").alias("wind_speed"),
            F.lit("knots").alias("wind_speed_unit_code"),
            F.col("dewpoint_c").alias("dewpoint_value"),
            F.lit("celcius").alias("dewpoint_unit_code"),
        )
    )


# --- DWML forecast XML (S4 parse half, xml_forecast.rs) ---------------

# (element path, type attribute) -> flattener field name
# (download_forecast.rs:440-571's reading_type match)
_DWML_FIELDS = {
    ("temperature", "maximum"): "max_temp",
    ("temperature", "minimum"): "min_temp",
    ("wind-speed", "sustained"): "wind_speed",
    ("direction", "wind"): "wind_direction",
    ("humidity", "maximum relative"): "relative_humidity_max",
    ("humidity", "minimum relative"): "relative_humidity_min",
    ("precipitation", "liquid"): "liquid_precipitation_amt",
    (
        "probability-of-precipitation",
        "12 hour",
    ): "twelve_hour_probability_of_precipitation",
}


def _iso_to_naive_utc(value: str):
    import datetime as dt

    parsed = dt.datetime.fromisoformat(value.strip())
    if parsed.tzinfo is not None:
        parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return parsed


def parse_dwml(xml_bytes: bytes):
    """DWML forecast XML -> the flattener's relational inputs
    (xml_forecast.rs:7-170, download_forecast.rs:316-420):

    returns (locations, layouts, readings, generated_at) where
    locations = [(location_key, latitude, longitude)] (2dp strings as
    in the document), layouts = [(layout_key, seq, start_time)],
    readings = [(location_key, field, layout_key, seq, raw_value)]
    with unparseable/empty <value/> kept as None so the flattener's
    carry-forward branch applies, and generated_at from
    head/product/creation-date (None when absent)."""
    try:
        root = ET.fromstring(_maybe_gunzip(xml_bytes).decode("utf-8", "replace"))
    except ET.ParseError as exc:
        raise ValueError(f"not parseable XML: {exc}") from exc
    if root.find("data") is None:
        # NDFD serves well-formed error documents with status 200
        raise ValueError(f"no <data> element in DWML response (root: {root.tag})")
    generated_at = None
    cd = root.findtext("head/product/creation-date")
    if cd:
        try:
            generated_at = _iso_to_naive_utc(cd)
        except ValueError:
            generated_at = None

    data = root.find("data")
    locations = []
    for loc in data.iter("location"):
        key = loc.findtext("location-key")
        point = loc.find("point")
        if key is None or point is None:
            continue
        locations.append(
            (key, point.get("latitude"), point.get("longitude"))
        )

    layouts = []
    for tl in data.iter("time-layout"):
        key = tl.findtext("layout-key")
        if key is None:
            continue
        for seq, st_el in enumerate(tl.iter("start-valid-time")):
            if not st_el.text or not st_el.text.strip():
                raise ValueError(f"empty start-valid-time in layout {key!r}")
            layouts.append((key, seq, _iso_to_naive_utc(st_el.text)))

    readings = []
    for params in data.iter("parameters"):
        loc_key = params.get("applicable-location")
        for el in params:
            field = _DWML_FIELDS.get((el.tag, (el.get("type") or "").strip()))
            if field is None:
                continue
            layout_key = el.get("time-layout")
            for seq, v_el in enumerate(el.iter("value")):
                raw = (v_el.text or "").strip() or None
                readings.append((loc_key, field, layout_key, seq, raw))
    return locations, layouts, readings, generated_at


def dwml_frames(spark: SparkSession, xml_bytes: bytes):
    """parse_dwml -> the three DataFrames flatten_forecasts takes."""
    locations, layouts, readings, generated_at = parse_dwml(xml_bytes)
    return (
        local_frame(
            spark, locations, "location_key string, latitude string, longitude string"
        ),
        local_frame(spark, layouts, "layout_key string, seq int, start_time timestamp"),
        local_frame(
            spark,
            readings,
            "location_key string, field string, layout_key string, seq int, raw_value string",
        ),
        generated_at,
    )
