"""HTTP shim: the reference's axum route table (S7/S8, SURVEY §3)
served by the stdlib — no web-framework dependency in the container.

Route table mirrors oracle/src/startup.rs:114-133:

    GET  /                                   service index
    GET  /files?start&end&observations&forecasts
                                             list exchanged parquet names
                                             (routes/files/get_names.rs)
    GET  /file/{name}                        download (download.rs:29-74)
    POST /file/{name}                        multipart upload (upload.rs:22-91)
    GET  /stations                           station catalog
    GET  /stations/forecasts?start&end&station_ids
    GET  /stations/observations?start&end&station_ids
    GET  /oracle/pubkey                      hex form (startup.rs:121)
    GET  /oracle/npub                        NIP-19 bech32 form (startup.rs:120)
    POST /oracle/update                      run the batch ETL pass
    GET  /oracle/events                      list events
    POST /oracle/events                      create event
    GET  /oracle/events/{id}
    POST /oracle/events/{id}/entry
    GET  /oracle/events/{id}/entry/{entry_id}

The daemon<->oracle file exchange keeps the reference's on-disk
layout: ``files_dir/YYYY-MM-DD/<name>.parquet`` with the creation
date parsed from the RFC3339 timestamp embedded in the filename
(file_access.rs:100-145). One inherited edge, kept for parity: the
upload route stores under the CURRENT date folder while the download
route resolves the folder from the filename's timestamp — a file
uploaded just after midnight with a previous-day timestamp lists but
404s on download, exactly as in the reference. The query-route bodies delegate to
``weather/api.py`` (the pure functions) and ``EventStore`` /
``run_etl_batch`` — the HTTP layer adds only parsing, status codes,
and JSON framing. The ``/ui/*`` routes run on the app's one
``sql_surface.views_only_session`` (``WeatherApp.ui_spark``); the ETL
and the read routes use ``WeatherApp.spark``.
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import os
import re
import threading
import uuid as uuidlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import SparkSession

from .. import sql_surface
from ..functions.bech32 import normalize_pubkey, npub_encode
from . import api, run, ui
from .event_store import EventStore
from .schemas import collect_utc

MAX_BODY = 30 * 1024 * 1024  # DefaultBodyLimit, startup.rs:132

log = logging.getLogger(__name__)


class HTTPError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


def _json_default(o):
    if isinstance(o, (dt.datetime, dt.date)):
        return o.isoformat()
    if isinstance(o, (bytes, bytearray)):
        return bytes(o).hex()
    raise TypeError(f"not JSON serializable: {type(o)}")


def parse_rfc3339(value: str | None) -> dt.datetime | None:
    """RFC3339 -> naive UTC datetime; 400 on garbage, like the
    reference's serde rfc3339::option extractor."""
    if value is None or value == "":
        return None
    try:
        parsed = dt.datetime.fromisoformat(value)
    except ValueError as exc:
        raise HTTPError(400, f"Times are not in RFC3339 format: {exc}") from exc
    if parsed.tzinfo is not None:
        parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return parsed


def upload_name_is_valid(name: str) -> bool:
    """Exactly one normal path component ending in .parquet — the
    directory-traversal guard of upload.rs:71-91."""
    if not name or name != os.path.basename(name):
        return False
    if name in (".", "..") or name.startswith("/"):
        return False
    return name.endswith(".parquet")


_FILENAME_TS = re.compile(r"^(?P<kind>.+)_(?P<ts>[0-9T:.+-]+Z?)\.parquet$")


def parse_file_created(name: str) -> dt.datetime:
    """The reference parses the RFC3339 created-time out of the
    filename to locate its date folder (download.rs:33-52)."""
    m = _FILENAME_TS.match(name)
    if not m:
        raise HTTPError(400, "Badly formatted filename, not a valid rfc3339 datetime")
    try:
        parsed = dt.datetime.fromisoformat(m.group("ts").replace("Z", "+00:00"))
    except ValueError as exc:
        raise HTTPError(400, f"Badly formatted filename, not a valid rfc3339 datetime: {exc}") from exc
    if parsed.tzinfo is not None:
        parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return parsed


def parse_multipart(content_type: str, body: bytes) -> list[bytes]:
    """Minimal multipart/form-data parser: returns each part's bytes
    (the reference writes every field's bytes to the target file,
    upload.rs:31-62)."""
    m = re.search(r'boundary="?([^";]+)"?', content_type or "")
    if not m:
        raise HTTPError(400, "Invalid file")
    delim = b"--" + m.group(1).encode()
    parts = []
    for chunk in body.split(delim)[1:]:
        if chunk.startswith(b"--"):  # closing marker
            break
        sep = chunk.find(b"\r\n\r\n")
        if sep < 0:
            continue
        data = chunk[sep + 4 :]
        if data.endswith(b"\r\n"):
            data = data[:-2]
        parts.append(data)
    if not parts:
        raise HTTPError(400, "Invalid file")
    return parts


class FileExchange:
    """The daemon<->oracle parquet drop-box (file_access.rs)."""

    def __init__(self, data_dir: str, clock=None):
        self.data_dir = data_dir
        self._clock = clock or (lambda: dt.datetime.now(dt.timezone.utc))

    def current_folder(self) -> str:
        sub = os.path.join(self.data_dir, self._clock().date().isoformat())
        os.makedirs(sub, exist_ok=True)
        return sub

    def build_file_path(self, name: str, created: dt.datetime) -> str:
        return os.path.join(self.data_dir, created.date().isoformat(), name)

    def grab_file_names(
        self,
        start: dt.datetime | None,
        end: dt.datetime | None,
        observations: bool | None,
        forecasts: bool | None,
    ) -> list[str]:
        names = []
        if not os.path.isdir(self.data_dir):
            return names
        for d in sorted(os.listdir(self.data_dir)):
            path = os.path.join(self.data_dir, d)
            if not os.path.isdir(path):
                continue
            try:
                folder_date = dt.date.fromisoformat(d)
            except ValueError:
                continue
            if start is not None and folder_date < start.date():
                continue
            if end is not None and folder_date > end.date():
                continue
            for f in sorted(os.listdir(path)):
                if not f.endswith(".parquet"):
                    continue
                is_obs = f.startswith("observations")
                is_fc = f.startswith("forecasts")
                if observations is not None and is_obs != observations:
                    continue
                if forecasts is not None and is_fc != forecasts:
                    continue
                names.append(f)
        return names


class WeatherApp:
    """Bound state: the axum AppState equivalent."""

    def __init__(
        self,
        spark: SparkSession,
        lake_root: str,
        store: EventStore,
        files_dir: str,
        oracle_seckey: bytes | None = None,
        now=None,
        require_nip98: bool = False,
    ):
        self.spark = spark
        # the UI's SQL surface: its own temp views, no path reads
        self.ui_spark = sql_surface.views_only_session(spark)
        self.lake_root = lake_root
        self.store = store
        self.files = FileExchange(files_dir)
        # NIP-98 gate on the two write routes the reference
        # authenticates (oracle_routes.rs:92,143); opt-in so the
        # unauthenticated shim keeps working for local tooling
        self.require_nip98 = require_nip98
        if oracle_seckey is not None:
            from ..functions import schnorr

            self.pubkey_hex = schnorr.pubkey(oracle_seckey).hex()
            self.signer = run.schnorr_signer(oracle_seckey)
        else:
            self.pubkey_hex = None
            self.signer = None
        self._now = now or (lambda: dt.datetime.utcnow())

    # -- route bodies ---------------------------------------------------

    def index(self) -> dict:
        return {
            "service": "noaa-data-pipeline-spark",
            "routes": [
                "/ui", "/ui/bootstrap", "/ui/schema", "/ui/sql",
                "/files", "/file/{name}", "/stations", "/stations/forecasts",
                "/stations/observations", "/oracle/pubkey", "/oracle/npub",
                "/oracle/update",
                "/oracle/events", "/oracle/events/{id}",
                "/oracle/events/{id}/entry", "/oracle/events/{id}/entry/{entry_id}",
            ],
        }

    def get_event(self, event_id: str) -> dict:
        from pyspark.sql import functions as F

        listed = self.store.list_events(limit=1 << 30)
        # the filter is pushed down, O(1) result
        rows = [r.asDict() for r in collect_utc(listed.filter(F.col("id") == event_id))]
        if not rows:
            raise HTTPError(404, f"no such event {event_id}")
        return rows[0]

    def get_entry(self, event_id: str, entry_id: str) -> dict:
        from pyspark.sql import functions as F

        entries, choices = self.store.event_entries(event_id)
        ent = [r.asDict() for r in collect_utc(entries.filter(F.col("id") == entry_id))]
        if not ent:
            raise HTTPError(404, f"no such entry {entry_id}")
        out = ent[0]
        out["choices"] = [
            c.asDict() for c in collect_utc(choices.filter(F.col("entry_id") == entry_id))
        ]
        return out

    def create_event(self, body: dict, auth_pubkey: str | None = None) -> dict:
        try:
            event_id = self.store.add_event(
                body.get("id"),
                parse_rfc3339(body["observation_date"]),
                parse_rfc3339(body["signing_date"]),
                list(body["locations"]),
                int(body["total_allowed_entries"]),
                int(body["number_of_values_per_entry"]),
                int(body["number_of_places_win"]),
                # authenticated mode: the signer IS the coordinator
                # (oracle.rs:183-206 threads the NostrAuth pubkey in)
                auth_pubkey or body.get("coordinator_pubkey"),
            )
        except (KeyError, TypeError, ValueError) as exc:
            raise HTTPError(400, f"invalid event payload: {exc}") from exc
        return self.get_event(event_id)

    def add_entry(self, event_id: str, body: dict, auth_pubkey: str | None = None) -> dict:
        entry_id = body.get("id") or str(uuidlib.uuid4())
        if auth_pubkey is not None:
            # entry creation requires the event coordinator's own
            # signature (oracle.rs:234-240)
            # compare in one canonical format: the reference converts
            # the NIP-98 hex pubkey to bech32 before the equality
            # check (oracle.rs:234-240); we normalize both sides to
            # hex so events created while auth was off (npub-format
            # coordinator_pubkey) still authenticate.
            coord = normalize_pubkey(
                self.get_event(event_id).get("coordinator_pubkey")
            )
            if coord != normalize_pubkey(auth_pubkey):
                raise HTTPError(
                    400,
                    "Client needs the valid coordinator signature in "
                    f"header for this event {event_id}",
                )
        try:
            choices = [
                (c["station"], c.get("temp_low"), c.get("temp_high"), c.get("wind_speed"))
                for c in body.get("choices", [])
            ]
            self.store.add_entry(entry_id, event_id, choices)
        except (KeyError, TypeError) as exc:
            raise HTTPError(400, f"invalid entry payload: {exc}") from exc
        except ValueError as exc:
            raise HTTPError(400, str(exc)) from exc
        return self.get_entry(event_id, entry_id)


class _Handler(BaseHTTPRequestHandler):
    app: WeatherApp  # set by make_server

    # -- plumbing --------------------------------------------------------

    def log_message(self, *args):  # silence default stderr chatter
        pass

    def _send_json(self, obj, status: int = 200) -> None:
        data = json.dumps(obj, default=_json_default).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _send_bytes(self, data: bytes, filename: str) -> None:
        self.send_response(200)
        self.send_header("Content-Type", "application/parquet")
        self.send_header(
            "Content-Disposition", f'attachment; filename="{filename}"'
        )
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _send_html(self, html: str) -> None:
        data = html.encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _body(self) -> bytes:
        raw = (self.headers.get("Content-Length") or "0").strip()
        # digits only: a negative length would make rfile.read(-1)
        # block until the client hangs up
        if not re.fullmatch(r"[0-9]+", raw):
            raise HTTPError(400, f"invalid Content-Length: {raw!r}")
        if int(raw) > MAX_BODY:
            raise HTTPError(413, "body too large")
        return self.rfile.read(int(raw))

    def _json_body(self) -> dict:
        """The request body as a JSON object (``{}`` when empty); a
        malformed body is the client's error, so 400."""
        try:
            body = json.loads(self._body() or b"{}")
        except ValueError as exc:  # JSONDecodeError, UnicodeDecodeError
            raise HTTPError(400, f"invalid JSON body: {exc}") from exc
        if not isinstance(body, dict):
            raise HTTPError(400, "invalid JSON body: expected an object")
        return body

    def _dispatch(self, method: str) -> None:
        url = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        # percent-decode each segment AFTER splitting, so an encoded
        # "/" (%2F) cannot smuggle extra components into a filename
        parts = [unquote(p) for p in url.path.split("/") if p]
        try:
            self._route(method, parts, q)
        except HTTPError as exc:
            self._send_json({"error": exc.message}, exc.status)
        except Exception:  # noqa: BLE001 — 500 like AppError
            # the traceback goes to the log, not to the client
            log.exception("unhandled error on %s %s", method, self.path)
            self._send_json({"error": "internal server error"}, 500)

    def do_GET(self):  # noqa: N802
        self._dispatch("GET")

    def do_POST(self):  # noqa: N802
        self._dispatch("POST")

    # -- routing ---------------------------------------------------------

    def _authenticate(self, method: str) -> str | None:
        """NIP-98 gate (nostr_extractor.rs:26-110): verify the
        Authorization header against the reconstructed absolute URL
        and method; returns the authenticated pubkey hex. No-op
        (returns None) unless the app opted in."""
        if not self.app.require_nip98:
            return None
        from . import nostr_auth

        scheme = "https" if self.headers.get("x-forwarded-proto") else "http"
        url = f"{scheme}://{self.headers.get('Host', '')}{self.path}"
        try:
            return nostr_auth.verify_header(
                self.headers.get("Authorization"),
                method,
                url,
                now=self.app._now().replace(tzinfo=dt.timezone.utc).timestamp(),
            )
        except nostr_auth.NostrAuthError as exc:
            raise HTTPError(exc.status, f"{exc.kind}: {exc.detail}") from exc

    def _route(self, method: str, parts: list[str], q: dict) -> None:
        app = self.app
        if method == "GET" and parts == []:
            return self._send_json(app.index())

        if parts[:1] == ["files"] and method == "GET":
            def flag(name):
                raw = q.get(name)
                return None if raw is None else raw.lower() in ("1", "true")
            names = app.files.grab_file_names(
                parse_rfc3339(q.get("start")), parse_rfc3339(q.get("end")),
                flag("observations"), flag("forecasts"),
            )
            return self._send_json({"file_names": names})

        if parts[:1] == ["file"] and len(parts) == 2:
            name = parts[1]
            if method == "GET":
                path = app.files.build_file_path(name, parse_file_created(name))
                if not os.path.isfile(path):
                    raise HTTPError(404, f"File not found: {name}")
                with open(path, "rb") as fh:
                    return self._send_bytes(fh.read(), name)
            if method == "POST":
                if not upload_name_is_valid(name):
                    raise HTTPError(400, "Invalid file")
                chunks = parse_multipart(self.headers.get("Content-Type"), self._body())
                target = os.path.join(app.files.current_folder(), name)
                with open(target, "wb") as fh:
                    for chunk in chunks:
                        fh.write(chunk)
                return self._send_json({})

        if parts == ["ui"] and method == "GET":
            return self._send_html(ui.INDEX_HTML)
        if parts == ["ui", "bootstrap"] and method == "POST":
            body = self._json_body()
            named_paths = []
            for name in body.get("file_names", []):
                # same traversal guard as the upload route: a JSON-
                # supplied name with '/' or '..' must not escape the
                # exchange directory
                if not upload_name_is_valid(name):
                    raise HTTPError(400, f"Invalid file name: {name}")
                path = app.files.build_file_path(name, parse_file_created(name))
                if not os.path.isfile(path):
                    raise HTTPError(404, f"File not found: {name}")
                named_paths.append((name, path))
            return self._send_json({"schemas": ui.bootstrap_tables(app.ui_spark, named_paths)})
        if parts == ["ui", "schema"] and method == "GET":
            tables = [t for t in (q.get("tables") or "").split(",") if t]
            return self._send_json(sql_surface.table_schemas(app.ui_spark, tables))
        if parts == ["ui", "sql"] and method == "POST":
            body = self._json_body()
            try:
                return self._send_json(ui.run_query(app.ui_spark, body.get("sql", "")))
            except sql_surface.SqlGuardError as exc:
                raise HTTPError(400, str(exc)) from exc
            except Exception as exc:  # surface analysis errors as 400s
                first = (str(exc).splitlines() or ["query failed"])[0]
                raise HTTPError(400, first[:500]) from exc

        if parts == ["stations"] and method == "GET":
            return self._send_json(api.stations(app.spark, app.lake_root))
        if parts == ["stations", "forecasts"] and method == "GET":
            return self._send_json(
                api.forecasts(
                    app.spark, app.lake_root,
                    parse_rfc3339(q.get("start")), parse_rfc3339(q.get("end")),
                    q.get("station_ids"),
                )
            )
        if parts == ["stations", "observations"] and method == "GET":
            return self._send_json(
                api.observations(
                    app.spark, app.lake_root,
                    parse_rfc3339(q.get("start")), parse_rfc3339(q.get("end")),
                    q.get("station_ids"),
                )
            )

        if parts[:1] == ["oracle"]:
            rest = parts[1:]
            if rest == ["pubkey"] and method == "GET":
                if app.pubkey_hex is None:
                    raise HTTPError(501, "attestation key not configured")
                return self._send_json({"pubkey": app.pubkey_hex})
            if rest == ["npub"] and method == "GET":
                # reference exposes BOTH representations of the oracle
                # key (startup.rs:120-121): hex at /oracle/pubkey and
                # the NIP-19 bech32 form here
                if app.pubkey_hex is None:
                    raise HTTPError(501, "attestation key not configured")
                return self._send_json({"npub": npub_encode(app.pubkey_hex)})
            if rest == ["update"] and method == "POST":
                results = run.run_etl_batch(
                    app.store, app.lake_root, app._now(), signer=app.signer
                )
                return self._send_json(results)
            if rest == ["events"] and method == "GET":
                return self._send_json([r.asDict() for r in collect_utc(app.store.list_events())])
            if rest == ["events"] and method == "POST":
                auth_pubkey = self._authenticate(method)
                body = self._json_body()
                return self._send_json(app.create_event(body, auth_pubkey), 201)
            if len(rest) == 2 and rest[0] == "events" and method == "GET":
                return self._send_json(app.get_event(rest[1]))
            if len(rest) == 3 and rest[0] == "events" and rest[2] == "entry" and method == "POST":
                auth_pubkey = self._authenticate(method)
                body = self._json_body()
                return self._send_json(app.add_entry(rest[1], body, auth_pubkey), 201)
            if (
                len(rest) == 4
                and rest[0] == "events"
                and rest[2] == "entry"
                and method == "GET"
            ):
                return self._send_json(app.get_entry(rest[1], rest[3]))

        raise HTTPError(404, "no such route")


class _Server(ThreadingHTTPServer):
    # the stdlib's listen backlog of 5 resets clients of a burst:
    # 16 overlapping requests lost some to ECONNRESET
    request_queue_size = 128


def make_server(app: WeatherApp, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Bind the route table; port 0 picks an ephemeral port (tests)."""
    handler = type("BoundHandler", (_Handler,), {"app": app})
    return _Server((host, port), handler)


def serve_background(app: WeatherApp) -> tuple[ThreadingHTTPServer, str]:
    """Start serving on a daemon thread; returns (server, base_url)."""
    srv = make_server(app)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    host, port = srv.server_address[:2]
    return srv, f"http://{host}:{port}"
