"""Station-index + METAR ingestion: XML parse, US filter, required-
field drops, station semi-join (SURVEY §2 S3/S5/P8)."""

from __future__ import annotations

import gzip

from noaa_data_pipeline_spark.weather import sources

STATIONS_XML = b"""<?xml version="1.0"?>
<wx_station_index>
  <Station><station_id>KMSP</station_id><station_name>Minneapolis</station_name>
    <state>MN</state><country>US</country><latitude>44.88</latitude><longitude>-93.22</longitude></Station>
  <Station><station_id>CYYZ</station_id><station_name>Toronto</station_name>
    <state>ON</state><country>CA</country><latitude>43.68</latitude><longitude>-79.63</longitude></Station>
  <Station><station_id>KSEA</station_id><station_name>Seattle</station_name>
    <state>WA</state><country>US</country><latitude>47.44</latitude><longitude>-122.31</longitude></Station>
  <Station><station_id>PGUM</station_id><station_name>Guam</station_name>
    <state>GU</state><country>US</country><latitude>13.48</latitude><longitude>144.8</longitude></Station>
</wx_station_index>
"""

METAR_XML = b"""<?xml version="1.0"?>
<response><data>
  <METAR><station_id>KMSP</station_id><observation_time>2024-08-11T00:53:00Z</observation_time>
    <latitude>44.88</latitude><longitude>-93.22</longitude><temp_c>21.1</temp_c>
    <wind_dir_degrees>180</wind_dir_degrees><wind_speed_kt>8</wind_speed_kt><dewpoint_c>12.2</dewpoint_c></METAR>
  <METAR><station_id>KSEA</station_id><observation_time>2024-08-11T00:53:00Z</observation_time>
    <latitude>47.44</latitude><longitude>-122.31</longitude>
    <wind_dir_degrees>200</wind_dir_degrees><wind_speed_kt>5</wind_speed_kt></METAR>
  <METAR><station_id>CYYZ</station_id><observation_time>2024-08-11T00:53:00Z</observation_time>
    <latitude>43.68</latitude><longitude>-79.63</longitude><temp_c>19.0</temp_c></METAR>
</data></response>
"""


def test_station_index_filters_non_us_states(spark):
    df = sources.station_index_df(spark, STATIONS_XML)
    got = {r.station_id for r in df.collect()}
    # CYYZ: country CA; PGUM: US but GU not in the 50-state list
    assert got == {"KMSP", "KSEA"}


def test_station_index_handles_gzip(spark):
    df = sources.station_index_df(spark, gzip.compress(STATIONS_XML))
    assert df.count() == 2


def test_metar_to_observations(spark):
    stations = sources.station_index_df(spark, STATIONS_XML)
    metars = sources.metar_df(spark, METAR_XML)
    obs = sources.observations_from_metar(metars, stations).collect()
    # KSEA dropped (no temp_c), CYYZ dropped (not in index)
    assert [r.station_id for r in obs] == ["KMSP"]
    r = obs[0]
    assert r.station_name == "Minneapolis"
    assert r.temperature_value == 21.1
    assert r.wind_speed == 8
    assert r.temperature_unit_code == "celcius"
    assert r.generated_at.isoformat().startswith("2024-08-11T00:53:00")


# --- DWML forecast XML parse (S4 parse half) --------------------------

DWML = """<?xml version="1.0"?>
<dwml version="1.0">
  <head><product><creation-date refresh-frequency="PT1H">2024-08-10T23:45:00+00:00</creation-date></product></head>
  <data>
    <location>
      <location-key>point1</location-key>
      <point latitude="44.90" longitude="-93.20"/>
    </location>
    <location>
      <location-key>point2</location-key>
      <point latitude="10.00" longitude="10.00"/>
    </location>
    <time-layout time-coordinate="local" summarization="none">
      <layout-key>k-p12h-n2-1</layout-key>
      <start-valid-time>2024-08-11T00:00:00+00:00</start-valid-time>
      <end-valid-time>2024-08-11T12:00:00+00:00</end-valid-time>
      <start-valid-time>2024-08-11T12:00:00+00:00</start-valid-time>
      <end-valid-time>2024-08-12T00:00:00+00:00</end-valid-time>
    </time-layout>
    <time-layout time-coordinate="local" summarization="none">
      <layout-key>k-p6h-n4-2</layout-key>
      <start-valid-time>2024-08-11T00:00:00+00:00</start-valid-time>
      <start-valid-time>2024-08-11T06:00:00+00:00</start-valid-time>
      <start-valid-time>2024-08-11T12:00:00+00:00</start-valid-time>
      <start-valid-time>2024-08-11T18:00:00+00:00</start-valid-time>
    </time-layout>
    <parameters applicable-location="point1">
      <temperature type="maximum" units="Fahrenheit" time-layout="k-p12h-n2-1">
        <name>Daily Maximum Temperature</name>
        <value>30</value>
        <value>33</value>
      </temperature>
      <wind-speed type="sustained" units="knots" time-layout="k-p6h-n4-2">
        <name>Wind Speed</name>
        <value>5</value>
        <value/>
        <value>9</value>
        <value>4</value>
      </wind-speed>
      <temperature type="unknown-kind" units="Fahrenheit" time-layout="k-p12h-n2-1">
        <name>ignored</name>
        <value>99</value>
      </temperature>
    </parameters>
  </data>
</dwml>
"""


def test_parse_dwml_shapes():
    import datetime as dt

    locations, layouts, readings, generated_at = sources.parse_dwml(DWML.encode())
    assert generated_at == dt.datetime(2024, 8, 10, 23, 45)
    assert ("point1", "44.90", "-93.20") in locations
    assert len(locations) == 2
    assert ("k-p12h-n2-1", 0, dt.datetime(2024, 8, 11, 0, 0)) in layouts
    assert ("k-p6h-n4-2", 3, dt.datetime(2024, 8, 11, 18, 0)) in layouts
    # empty <value/> -> None; unknown type attr ignored
    assert ("point1", "wind_speed", "k-p6h-n4-2", 1, None) in readings
    assert not any(r[4] == "99" for r in readings)


def test_dwml_end_to_end_through_flattener(spark):
    """Actual DWML XML -> parse -> flatten_forecasts matches the same
    expectations as the hand-built relational fixture in
    test_weather_flatten (same values, fed from the document)."""
    import datetime as dt

    from noaa_data_pipeline_spark.weather import flatten

    locations, layouts, readings, generated_at = sources.dwml_frames(
        spark, DWML.encode()
    )
    stations = spark.createDataFrame(
        [("KMSP", "Minneapolis", 44.9, -93.2)],
        "station_id string, station_name string, latitude double, longitude double",
    )
    now = dt.datetime(2024, 8, 11, 0, 0, 0)
    out = flatten.flatten_forecasts(
        spark, locations, stations, layouts, readings, now, generated_at
    ).orderBy("begin_time")
    rows = {r.begin_time: r for r in out.collect()}
    assert len(rows) == 57  # one week of 3h slots; point2 dropped (no station)
    assert rows[now].max_temp == 30
    assert rows[now + dt.timedelta(hours=12)].max_temp == 33
    assert rows[now].wind_speed == 5
    assert rows[now + dt.timedelta(hours=6)].wind_speed == 5  # empty value carried
    assert rows[now + dt.timedelta(hours=12)].wind_speed == 9
    assert rows[now + dt.timedelta(hours=18)].wind_speed == 4
    assert all(r.generated_at == generated_at for r in rows.values())


# --- the Arrow crossing (local_frame) ----------------------------------


def test_ingest_frames_plan_as_local_table_scans(spark):
    """Every ingest frame is scanned by the JVM: a LocalTableScan leaf,
    no PythonRDD (``Scan ExistingRDD``), so no Python worker runs."""
    frames = [
        sources.station_index_df(spark, STATIONS_XML),
        sources.metar_df(spark, METAR_XML),
        *sources.dwml_frames(spark, DWML.encode())[:3],
    ]
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_equals_list_path_with_nulls(spark):
    import datetime as dt

    ddl = "s string, i int, l long, d double, b boolean, t timestamp"
    rows = [
        ("a", 1, 2**40, 2.5, True, dt.datetime(2024, 8, 11, 6, 30, 0, 123456)),
        (None, None, None, None, None, None),
        ("", 0, -1, -0.0, False, dt.datetime(1969, 12, 31, 23, 59, 59)),
    ]
    got = sources.local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # None stays a null, not NaN: the METAR drop policy sees it
    assert got.dropna(subset=["d"]).count() == 2


def test_empty_metar_document_is_an_empty_frame(spark):
    empty = sources.metar_df(spark, b"<response><data></data></response>")
    want = spark.createDataFrame(
        [],
        "station_id string, observation_time string, latitude double, longitude double, "
        "temp_c double, wind_dir_degrees double, wind_speed_kt double, dewpoint_c double",
    )
    assert empty.schema == want.schema
    assert empty.collect() == []
