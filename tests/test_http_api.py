"""S7/S8 + §3 route parity: the stdlib HTTP shim serves the same
route table as the reference's axum app (startup.rs:114-133) —
multipart upload, parquet download, file listing, the three station
query routes, and the oracle event CRUD + update flow — exercised
over real sockets with urllib."""

from __future__ import annotations

import datetime as dt
import http.client
import json
import logging
import urllib.error
import urllib.parse
import urllib.request
import uuid

import pytest

from noaa_data_pipeline_spark.weather import api, http_api, lake
from noaa_data_pipeline_spark.weather.event_store import EventStore
from tests.test_event_store_etl import NOW, OBS_DATE, SIGN_DATE, _build_fixture


def _get(base, path):
    with urllib.request.urlopen(base + path) as resp:
        return resp.status, json.loads(resp.read())


def _get_raw(base, path):
    with urllib.request.urlopen(base + path) as resp:
        return resp.status, dict(resp.headers), resp.read()


def _post_json(base, path, body):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def _post_multipart(base, path, payload: bytes):
    boundary = "xBOUNDARYx"
    body = (
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="file"; filename="f.parquet"\r\n'
        "Content-Type: application/octet-stream\r\n\r\n"
    ).encode() + payload + f"\r\n--{boundary}--\r\n".encode()
    req = urllib.request.Request(
        base + path,
        data=body,
        headers={"Content-Type": f"multipart/form-data; boundary={boundary}"},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.read()


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    store, lake_root, event_id = _build_fixture(spark, tmp_path_factory)
    files_dir = str(tmp_path_factory.mktemp("files"))
    app = http_api.WeatherApp(
        spark, lake_root, store, files_dir, now=lambda: NOW
    )
    srv, base = http_api.serve_background(app)
    yield base, app, store, lake_root, event_id
    srv.shutdown()


def test_index_lists_routes(served):
    base = served[0]
    status, body = _get(base, "/")
    assert status == 200
    assert "/stations/forecasts" in body["routes"]


def test_forecasts_route_matches_api_function(served):
    base, app, _, lake_root, _ = served
    qs = (
        f"?start={OBS_DATE.isoformat()}Z&end={(OBS_DATE + dt.timedelta(days=1)).isoformat()}Z"
        "&station_ids=PFNO,KSAW"
    )
    status, body = _get(base, "/stations/forecasts" + qs)
    assert status == 200
    direct = api.forecasts(
        app.spark, lake_root, OBS_DATE, OBS_DATE + dt.timedelta(days=1), "PFNO,KSAW"
    )
    canon = json.loads(json.dumps(direct, default=http_api._json_default))
    assert sorted(body, key=lambda r: r["station_id"]) == sorted(
        canon, key=lambda r: r["station_id"]
    )
    assert {r["station_id"] for r in body} == {"PFNO", "KSAW"}


def test_observations_and_stations_routes(served):
    base = served[0]
    status, body = _get(base, "/stations/observations?station_ids=PFNO")
    assert status == 200 and len(body) == 1 and body[0]["station_id"] == "PFNO"
    status, body = _get(base, "/stations")
    assert status == 200
    assert {r["station_id"] for r in body} == {"PFNO", "KSAW", "PAPG", "KWMC"}


def test_bad_rfc3339_is_400(served):
    base = served[0]
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(base, "/stations/forecasts?start=notadate&station_ids=PFNO")
    assert exc.value.code == 400


def _post_raw(base, path, body: bytes, content_length: str):
    """POST with a hand-set Content-Length header; a 5 s timeout turns
    a handler that blocks on the body into a test failure."""
    host, port = urllib.parse.urlsplit(base).netloc.split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=5)
    try:
        conn.putrequest("POST", path)
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", content_length)
        conn.endheaders(body)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


@pytest.mark.parametrize(
    "path", ["/ui/bootstrap", "/ui/sql", "/oracle/events", "/oracle/events/x/entry"]
)
@pytest.mark.parametrize("body", [b"{not json", b"\x80\x81", b"[1, 2]"])
def test_malformed_json_body_is_400(served, path, body):
    status, got = _post_raw(served[0], path, body, str(len(body)))
    assert status == 400
    assert got["error"].startswith("invalid JSON body")


@pytest.mark.parametrize("length", ["abc", "-1"])
def test_bad_content_length_is_400(served, length):
    status, got = _post_raw(served[0], "/oracle/events", b"{}", length)
    assert status == 400
    assert got["error"] == f"invalid Content-Length: {length!r}"


def test_unhandled_error_is_generic_500_and_logged(served, monkeypatch, caplog):
    """An exception the routes do not map to a status becomes a 500
    whose body hides the detail; the traceback goes to the log."""
    def boom(*args, **kwargs):
        raise RuntimeError("secret detail")

    monkeypatch.setattr(http_api.api, "stations", boom)
    with caplog.at_level(logging.ERROR, logger=http_api.__name__):
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(served[0], "/stations")
    assert exc.value.code == 500
    assert json.loads(exc.value.read()) == {"error": "internal server error"}
    [record] = [r for r in caplog.records if r.name == http_api.__name__]
    assert "GET /stations" in record.getMessage()
    assert "RuntimeError: secret detail" in caplog.text
    assert "Traceback" in caplog.text


def test_upload_download_roundtrip_and_listing(served):
    base = served[0]
    payload = b"PAR1" + bytes(range(200)) + b"PAR1"
    created = dt.datetime.now(dt.timezone.utc)
    name = f"forecasts_{created.isoformat().replace('+00:00', 'Z')}.parquet"
    status, _ = _post_multipart(base, f"/file/{name}", payload)
    assert status == 200

    status, headers, data = _get_raw(base, f"/file/{name}")
    assert status == 200
    assert data == payload
    assert headers["Content-Type"] == "application/parquet"
    assert name in headers["Content-Disposition"]

    status, body = _get(base, "/files?forecasts=true")
    assert status == 200 and name in body["file_names"]
    status, body = _get(base, "/files?observations=true")
    assert name not in body["file_names"]


def test_upload_rejects_traversal_and_nonparquet(served):
    base = served[0]
    for bad in ["..%2Fevil.parquet", "notparquet.txt"]:
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post_multipart(base, f"/file/{bad}", b"x")
        assert exc.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(base, "/file/forecasts_2024-01-01T00:00:00Z.parquet")
    assert exc.value.code == 404


def test_event_crud_and_update_flow(served):
    base, app, store, _, seeded_event = served
    # create a fresh event via the route
    new_id = str(uuid.uuid4())
    status, ev = _post_json(
        base,
        "/oracle/events",
        {
            "id": new_id,
            "observation_date": OBS_DATE.isoformat() + "Z",
            "signing_date": SIGN_DATE.isoformat() + "Z",
            "locations": ["PFNO", "KSAW"],
            "total_allowed_entries": 2,
            "number_of_values_per_entry": 6,
            "number_of_places_win": 1,
        },
    )
    assert status == 201 and ev["id"] == new_id and ev["total_entries"] == 0

    entry_id = str(uuid.uuid4())
    status, ent = _post_json(
        base,
        f"/oracle/events/{new_id}/entry",
        {"id": entry_id, "choices": [{"station": "PFNO", "temp_low": "par"}]},
    )
    assert status == 201 and ent["id"] == entry_id
    assert ent["choices"][0]["station"] == "PFNO"

    status, got = _get(base, f"/oracle/events/{new_id}/entry/{entry_id}")
    assert status == 200 and got["id"] == entry_id

    status, listed = _get(base, "/oracle/events")
    assert {e["id"] for e in listed} >= {new_id, seeded_event}

    # invalid pick -> 400 (store validation surfaced as status code)
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post_json(
            base,
            f"/oracle/events/{new_id}/entry",
            {"choices": [{"station": "PFNO", "temp_low": "sideways"}]},
        )
    assert exc.value.code == 400

    # POST /oracle/update runs the batch ETL: both events sign
    req = urllib.request.Request(base + "/oracle/update", data=b"", method="POST")
    with urllib.request.urlopen(req) as resp:
        results = json.loads(resp.read())
    assert results[seeded_event] == "signed"
    assert results[new_id] == "signed"

    # pubkey unconfigured -> 501
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(base, "/oracle/pubkey")
    assert exc.value.code == 501


def test_oracle_pubkey_and_npub_routes(served):
    """Both representations of the oracle attestation key are served
    (startup.rs:120-121): /oracle/pubkey returns the hex form,
    /oracle/npub its NIP-19 bech32 encoding — and they agree."""
    from noaa_data_pipeline_spark.functions.bech32 import npub_decode

    _, app, store, lake_root, _ = served
    seckey = bytes(range(1, 33))
    keyed = http_api.WeatherApp(
        app.spark, lake_root, store, app.files.data_dir,
        oracle_seckey=seckey, now=lambda: NOW,
    )
    srv, base = http_api.serve_background(keyed)
    try:
        status, body = _get(base, "/oracle/pubkey")
        assert status == 200 and body["pubkey"] == keyed.pubkey_hex
        status, body = _get(base, "/oracle/npub")
        assert status == 200
        assert body["npub"].startswith("npub1")
        assert npub_decode(body["npub"]) == keyed.pubkey_hex

        # npub unconfigured -> 501, same contract as /oracle/pubkey
        unkeyed = served[0]
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(unkeyed, "/oracle/npub")
        assert exc.value.code == 501
    finally:
        srv.shutdown()


def test_ui_page_bootstrap_and_query(served):
    """UI parity e2e (reference ui/index.html + ui/main.js): fetch the
    page, upload a real observations parquet through the exchange,
    bootstrap it via the verbatim CREATE TABLE read_parquet([...])
    statement, and run the shipped example query (ui/main.js:52)
    through the guarded /ui/sql box."""
    base, app, *_ = served

    status, headers, html = _get_raw(base, "/ui")
    assert status == 200 and "text/html" in headers["Content-Type"]
    page = html.decode()
    assert "SELECT * FROM observations ORDER BY station_id, generated_at DESC LIMIT 200" in page
    assert "/ui/sql" in page and "/ui/bootstrap" in page

    # real parquet upload: two stations, two generated_at each
    import glob
    import os
    import tempfile

    rows = [
        ("KSAW", dt.datetime(2024, 1, 5, 6), 11.0),
        ("KSAW", dt.datetime(2024, 1, 5, 12), 12.5),
        ("PFNO", dt.datetime(2024, 1, 5, 6), -3.0),
        ("PFNO", dt.datetime(2024, 1, 5, 12), -2.25),
    ]
    df = app.spark.createDataFrame(rows, "station_id string, generated_at timestamp, temp double")
    out = tempfile.mkdtemp(prefix="ui_obs_")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    payload = open(glob.glob(os.path.join(out, "part-*.parquet"))[0], "rb").read()
    created = dt.datetime.now(dt.timezone.utc)
    name = f"observations_{created.isoformat().replace('+00:00', 'Z')}.parquet"
    status, _ = _post_multipart(base, f"/file/{name}", payload)
    assert status == 200

    status, body = _post_json(base, "/ui/bootstrap", {"file_names": [name]})
    assert status == 200
    cols = {c["column_name"] for c in body["schemas"]["observations"]}
    assert cols == {"station_id", "generated_at", "temp"}

    status, body = _post_json(
        base,
        "/ui/sql",
        {"sql": "SELECT * FROM observations ORDER BY station_id, generated_at DESC LIMIT 200"},
    )
    assert status == 200
    got = [(r["station_id"], r["temp"]) for r in body["rows"]]
    assert got == [("KSAW", 12.5), ("KSAW", 11.0), ("PFNO", -2.25), ("PFNO", -3.0)]

    # guarded: DML through the query box is a 400, not an execution
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post_json(base, "/ui/sql", {"sql": "DROP TABLE observations"})
    assert exc.value.code == 400

    # guarded: the box is views-only (r8 ADVICE) — path-backed table
    # references are a 400, not a server-side file read
    for sneak in [
        "SELECT * FROM read_parquet('/root/testdata/sf0.001/region.parquet')",
        "SELECT * FROM parquet.`/root/testdata/sf0.001/region.parquet`",
    ]:
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post_json(base, "/ui/sql", {"sql": sneak})
        assert exc.value.code == 400

    # schema introspection endpoint mirrors the loadSchema pass
    status, body = _get(base, "/ui/schema?tables=observations")
    assert status == 200
    assert {c["column_name"] for c in body["observations"]} == cols


def test_duplicate_entry_is_400_and_update_still_runs(served):
    """``entries.id`` is a primary key: a second POST of the same entry
    is a 400 and stores nothing, so the next ``/oracle/update`` still
    scores the event (a duplicated entry row made it a 500)."""
    base, _, store, _, _ = served
    event_id = str(uuid.uuid4())
    _post_json(
        base,
        "/oracle/events",
        {
            "id": event_id,
            "observation_date": OBS_DATE.isoformat() + "Z",
            "signing_date": SIGN_DATE.isoformat() + "Z",
            "locations": ["PFNO", "KSAW"],
            "total_allowed_entries": 3,
            "number_of_values_per_entry": 6,
            "number_of_places_win": 1,
        },
    )
    entry = {"id": str(uuid.uuid4()), "choices": [{"station": "PFNO", "temp_low": "par"}]}
    assert _post_json(base, f"/oracle/events/{event_id}/entry", entry)[0] == 201
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post_json(base, f"/oracle/events/{event_id}/entry", entry)
    assert exc.value.code == 400
    assert store.read("entries").filter(f"id = '{entry['id']}'").count() == 1

    req = urllib.request.Request(base + "/oracle/update", data=b"", method="POST")
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200
        assert json.loads(resp.read())[event_id] == "signed"
