"""The workloads: what one op is, how inputs are built, and the checks.

Each workload drives the engine only through its public functions:
``daemon.daemon_tick`` behind an in-process ``XmlFetcher`` transport,
``http_api.serve_background`` over real sockets, and the registry's
query functions. ``op(i)`` returns the i-th op as (kind, pre, fn,
post): ``pre`` and ``post`` run outside the timed call; ``post``
returns True/False, or None when the check is deferred to
``finish``, which runs after the timed window.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import random
import shutil
import sys
import time
import urllib.error
import urllib.parse
import urllib.request

import checks
import gen

FAKE_HOST = "http://noaa.invalid"  # never contacted: the transport is in-process


def _complain(msg: str) -> None:
    print(f"perfbench check failed: {msg}", file=sys.stderr)


class IngestHourly:
    """The write path: one op is one hourly ``daemon_tick``."""

    name = "ingest_hourly"
    STATIONS = 50  # one full DWML batch: the batcher runs, the tick fits the time budget
    FOREIGN = 4
    CYCLE = 4  # distinct tick inputs, reused round-robin
    WARM_TICKS = 1
    # One timed tick per pass: two ticks of one process differ by up
    # to ~20%, the ticks of different processes by up to 60%, so a
    # second tick would cost ~7 s of the time budget and barely steady
    # the figure.
    PASS = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.k = 0  # tick index: warm-up ticks first, then op i is tick WARM_TICKS + i
        self.transport_calls = 0  # counted from the end of the warm-up
        self.rows_written = 0

    def build_inputs(self) -> None:
        self.stations = gen.stations(self.seed, self.STATIONS, self.FOREIGN)
        self.index = gen.station_index_gz(self.stations)
        self.ticks = [gen.ingest_tick(self.seed, self.stations, k) for k in range(self.CYCLE)]

    def setup(self) -> None:
        from noaa_data_pipeline_spark.weather.fetcher import XmlFetcher

        self.lake = os.path.join(self.work, "lake")
        self.fetcher = XmlFetcher(transport=self._transport)

    def _transport(self, url: str, timeout: float, headers: dict) -> tuple[int, bytes]:
        self.transport_calls += 1
        u = urllib.parse.urlparse(url)
        tick = self.ticks[self.k % self.CYCLE]
        if u.path == "/stations.cache.xml.gz":
            return 200, self.index
        if u.path == "/forecast":
            ids = urllib.parse.parse_qs(u.query)["ids"][0].split(",")
            return 200, gen.dwml_document(tick, ids)
        if u.path == "/metar.cache.xml.gz":
            return 200, tick.metar
        return 404, b""

    def _now(self, k: int) -> dt.datetime:
        return gen.INGEST_BASE + dt.timedelta(hours=k)

    def _tick(self) -> dict[str, int]:
        from noaa_data_pipeline_spark.weather import daemon

        return daemon.daemon_tick(
            self.spark,
            self.fetcher,
            self.lake,
            FAKE_HOST + "/stations.cache.xml.gz",
            lambda batch: FAKE_HOST + "/forecast?ids=" + ",".join(batch),
            FAKE_HOST + "/metar.cache.xml.gz",
            now=self._now(self.k),
        )

    def warmup(self) -> bool:
        ok = True
        for i in range(-self.WARM_TICKS, 0):
            _, pre, fn, post = self.op(i)
            pre()
            ok = post(fn()) and ok
        self.transport_calls = self.rows_written = 0
        return ok

    def op(self, i: int):
        k = self.WARM_TICKS + i

        def pre():
            self.k = k

        def post(counts: dict[str, int]) -> bool:
            self.rows_written += counts.get("forecasts", 0) + counts.get("observations", 0)
            return counts == self.ticks[k % self.CYCLE].expected

        return "tick", pre, self._tick, post

    def passes_complete(self, n_ops: int) -> bool:
        return n_ops % self.PASS == 0

    def finish(self, n_ops: int) -> list[bool]:
        """The lake holds exactly the generator's rows for every timed
        tick, counted by DuckDB from the files."""
        got = checks.LakeOracle(self.lake).rows_per_snapshot()
        ok = []
        for k in range(self.WARM_TICKS, self.WARM_TICKS + n_ops):
            exp = self.ticks[k % self.CYCLE].expected
            ok.append(
                got.get(("forecasts", self._now(k))) == exp["forecasts"]
                and got.get(("observations", self._now(k))) == exp["observations"]
            )
        return ok

    def close(self) -> None:
        pass


# The reference UI's shipped example query (ui/main.js:52) and one
# daily aggregate over the same registered view.
UI_QUERIES = [
    "SELECT * FROM observations ORDER BY station_id, generated_at DESC LIMIT 200",
    "SELECT station_id, substr(generated_at, 1, 10) AS day, min(temperature_value) AS temp_low, "
    "max(temperature_value) AS temp_high, max(wind_speed) AS wind_speed "
    "FROM observations GROUP BY station_id, substr(generated_at, 1, 10) ORDER BY station_id, day",
]
READ_KINDS = ["forecasts", "observations", "stations", "ui_sql"]
# One cycle's reads. Typical latencies order ui_sql < stations <
# observations < forecasts < update; doubling the middle kind puts the
# median of the reads and of all ops (5 reads + 1 update per cycle)
# inside the observations block for any whole number of cycles, never
# on a boundary between two kinds.
CYCLE_READS = ["forecasts", "observations", "observations", "stations", "ui_sql"]


_ARROW_TYPES = {"string": "string", "double": "float64", "bigint": "int64", "timestamp": "timestamp"}


def _footer(path: str) -> tuple:
    """What a reader of the lake sees of a file's layout: the Arrow
    schema, each column's parquet physical and logical type, and the
    codec."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    cols = [(c.name, c.physical_type, str(c.logical_type)) for c in f.schema]
    return f.schema_arrow.remove_metadata(), cols, f.metadata.row_group(0).column(0).compression


def write_lake_file(root: str, file_type: str, ingested_at: dt.datetime, rows, schema, like: list[str]) -> None:
    """One hourly snapshot in the layout of ``like``, the files
    ``lake.write_snapshot`` wrote for another snapshot of the same
    type: the same ``file_type=``/``ingest_date=`` directories, the
    same number of files, codec and footer key-value metadata (Spark's
    own keys, such as its schema), written with pyarrow so the serve
    workload's setup does not time the write path that ingest_hourly
    measures. Timestamps are INT96, as Spark writes them by default.
    Raises when the copy's schema or physical types drift from
    ``like``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ref = pq.ParquetFile(like[0])
    ref_schema, ref_cols, codec = _footer(like[0])
    # write_snapshot's ingested_at is a literal, so never null
    fields = [(f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields] + [
        ("ingested_at", "timestamp", False)
    ]
    arrow = pa.schema([
        pa.field(name, pa.timestamp("us") if typ == "timestamp" else getattr(pa, _ARROW_TYPES[typ])(), nullable)
        for name, typ, nullable in fields
    ], metadata=ref.metadata.metadata)
    cols = list(zip(*rows)) + [[ingested_at] * len(rows)]
    table = pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    out = os.path.join(root, f"file_type={file_type}", f"ingest_date={ingested_at.date()}")
    os.makedirs(out, exist_ok=True)
    n = min(len(like), len(rows))
    bounds = [len(rows) * i // n for i in range(n + 1)]
    for i in range(n):
        path = os.path.join(out, f"part-{i:05d}-{ingested_at:%Y%m%dT%H%M}.{codec.lower()}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path, compression=codec,
                       use_deprecated_int96_timestamps=True)
        got = _footer(path)
        if got[0] != ref_schema or got[1] != ref_cols:
            raise AssertionError(f"{path}: layout {got[:2]} drifted from write_snapshot's {(ref_schema, ref_cols)}")
        kv = dict(pq.ParquetFile(path).metadata.metadata)
        kv.pop(b"ARROW:schema")  # pyarrow's own key; Spark and DuckDB ignore it
        if kv != ref.metadata.metadata:
            raise AssertionError(f"{path}: footer metadata {kv} differs from write_snapshot's")


class OracleServe:
    """The read path plus the ETL path behind the stdlib HTTP shim.

    Closed loop, one client: every cycle is ``CYCLE_READS`` in a seeded
    order, then one ``POST /oracle/update``. The event store is restored
    from the setup template before each update (outside the timed op),
    so every ETL pass does the same work."""

    name = "oracle_serve"
    STATIONS = 200
    HOURS = 4
    EVENTS = 10
    SIGNABLE = 1  # with the golden event, two BIP-340 signatures per ETL pass
    ENTRIES = 20

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.responses: list[tuple[int, tuple, object]] = []  # (op index, request, body)
        self.signatures: list[tuple[int, dict]] = []  # (op index, event id -> signature)
        self.status_counts = {"non_2xx": 0}
        self.read_rows: list[tuple[int, int]] = []  # (op index, rows returned) for lake reads

    def build_inputs(self) -> None:
        self.inputs = gen.serve_inputs(
            self.seed, self.STATIONS, self.HOURS, self.EVENTS, self.SIGNABLE, self.ENTRIES
        )

    # -- setup ---------------------------------------------------------------

    def setup(self) -> None:
        from noaa_data_pipeline_spark.functions import schnorr
        from noaa_data_pipeline_spark.weather import http_api, lake
        from noaa_data_pipeline_spark.weather.event_store import EventStore
        from noaa_data_pipeline_spark.weather.schemas import FORECAST_SCHEMA, OBSERVATION_SCHEMA

        s = self.spark
        self.lake = os.path.join(self.work, "lake")
        t0 = time.monotonic()
        # The golden snapshots go through write_snapshot; the hourly
        # ones are pyarrow copies of their layout (write_lake_file
        # checks each copy against them).
        like = {}
        for file_type, (at, rows), schema in ((lake.FORECASTS, self.inputs.golden_forecasts, FORECAST_SCHEMA),
                                              (lake.OBSERVATIONS, self.inputs.golden_observations,
                                               OBSERVATION_SCHEMA)):
            lake.write_snapshot(s.createDataFrame(rows, schema), self.lake, file_type, at)
            like[file_type] = sorted(glob.glob(os.path.join(self.lake, f"file_type={file_type}", "*", "*.parquet")))
        for at, fc, ob in self.inputs.snapshots:
            write_lake_file(self.lake, lake.FORECASTS, at, fc, FORECAST_SCHEMA, like[lake.FORECASTS])
            write_lake_file(self.lake, lake.OBSERVATIONS, at, ob, OBSERVATION_SCHEMA, like[lake.OBSERVATIONS])
        t1 = time.monotonic()

        self.template = os.path.join(self.work, "store_template")
        tpl = EventStore(s, self.template, backend="parquet")
        tpl.append("events", self.inputs.events)
        tpl.append("entries", self.inputs.entries)
        tpl.append("choices", self.inputs.choices)
        self.store_root = os.path.join(self.work, "store")
        shutil.copytree(self.template, self.store_root)

        seckey = gen.oracle_seckey(self.seed)
        self.pubkey = schnorr.pubkey(seckey)
        app = http_api.WeatherApp(
            s, self.lake, EventStore(s, self.store_root), os.path.join(self.work, "files"),
            oracle_seckey=seckey, now=lambda: gen.SERVE_NOW,
        )
        self.server, self.base = http_api.serve_background(app)

        # the daemon uploader's leg: drop-box files, then the UI bootstrap
        self.dropbox = self._upload_dropbox()
        self._request("POST", "/ui/bootstrap", {"file_names": [os.path.basename(p) for p in self.dropbox]})
        self.plan = self._request_plan()
        print(f"perfbench serve setup: lake {t1 - t0:.1f} s, "
              f"store + app + upload {time.monotonic() - t1:.1f} s", file=sys.stderr)

    def _upload_dropbox(self) -> list[str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        day = dt.datetime.now(dt.timezone.utc).date().isoformat()
        paths = []
        for h in range(2):
            fcs, obs = gen.dropbox_rows(self.inputs, h)
            for kind, rows in (("observations", obs), ("forecasts", fcs)):
                name = f"{kind}_{day}T{h:02d}:00:00Z.parquet"
                path = os.path.join(self.work, "dropbox", name)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(pa.Table.from_pylist(rows), path)
                with open(path, "rb") as fh:
                    self._multipart(f"/file/{name}", fh.read())
                paths.append(path)
        return paths

    def _multipart(self, path: str, payload: bytes) -> None:
        boundary = "perfbenchBOUNDARY"
        body = (
            f"--{boundary}\r\nContent-Disposition: form-data; name=\"file\"; filename=\"f.parquet\"\r\n"
            "Content-Type: application/octet-stream\r\n\r\n"
        ).encode() + payload + f"\r\n--{boundary}--\r\n".encode()
        req = urllib.request.Request(
            self.base + path, data=body, method="POST",
            headers={"Content-Type": f"multipart/form-data; boundary={boundary}"},
        )
        with urllib.request.urlopen(req) as resp:
            resp.read()

    def _request(self, method: str, path: str, body=None):
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(
            self.base + path, data=data, method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req) as resp:
                return json.loads(resp.read())
        except urllib.error.HTTPError:
            self.status_counts["non_2xx"] += 1
            raise

    def _request_plan(self) -> list[tuple]:
        """One cycle per update: ``CYCLE_READS`` in a seeded order, each
        with seeded parameters (1-8 stations, a one-day window)."""
        rng = random.Random(f"mix:{self.seed}")
        ids = [s.station_id for s in self.inputs.stations] + gen.GOLDEN_STATIONS
        plan = []
        for _ in range(64):
            for kind in rng.sample(CYCLE_READS, len(CYCLE_READS)):
                if kind in ("forecasts", "observations"):
                    # the observation day, or (forecasts only) the day after
                    start = gen.OBS_DATE + checks.DAY * (kind == "forecasts" and rng.random() < 0.5)
                    plan.append((kind, tuple(rng.sample(ids, rng.randint(1, 8))), start, start + checks.DAY))
                elif kind == "stations":
                    plan.append((kind,))
                else:
                    plan.append((kind, rng.randrange(len(UI_QUERIES))))
            plan.append(("update",))
        return plan

    # -- ops -----------------------------------------------------------------

    def warmup(self) -> bool:
        """The first cycle's ops, checked like timed ones: an ETL pass
        after one warm pass runs within ~10% of later passes."""
        cycle = len(CYCLE_READS) + 1
        ok = True
        for i in range(cycle):
            kind, pre, fn, post = self.op(i)
            if pre:
                pre()
            ok = post(fn()) is not False and ok
        ok = all(self.finish(cycle)) and ok
        self.responses.clear()
        self.read_rows.clear()
        self.signatures.clear()
        self.status_counts["non_2xx"] = 0
        return ok

    def op(self, i: int):
        req = self.plan[i % len(self.plan)]
        kind = req[0]
        if kind == "update":
            return (kind, self._restore_store, lambda: self._request("POST", "/oracle/update", {}),
                    lambda body: self._after_update(i, body))
        if kind == "ui_sql":
            def call():
                return self._request("POST", "/ui/sql", {"sql": UI_QUERIES[req[1]]})
        elif kind == "stations":
            def call():
                return self._request("GET", "/stations")
        else:
            query = urllib.parse.urlencode({
                "start": req[2].strftime("%Y-%m-%dT%H:%M:%SZ"),
                "end": req[3].strftime("%Y-%m-%dT%H:%M:%SZ"),
                "station_ids": ",".join(req[1]),
            })

            def call():
                return self._request("GET", f"/stations/{kind}?{query}")
        return kind, None, call, lambda body: self._keep(i, req, body)

    def passes_complete(self, n_ops: int) -> bool:
        """Ops are measured a whole cycle at a time, so every run
        measures the same number of each kind."""
        return n_ops % (len(CYCLE_READS) + 1) == 0

    def _keep(self, i: int, req: tuple, body) -> None:
        """Reads are checked after the window (``finish``)."""
        self.responses.append((i, req, body))
        if req[0] != "ui_sql":
            self.read_rows.append((i, len(body)))

    def _restore_store(self) -> None:
        shutil.rmtree(self.store_root)
        shutil.copytree(self.template, self.store_root)

    def _after_update(self, i: int, body) -> bool | None:
        """Scores and statuses checked now; signatures kept for
        ``schnorr.verify`` after the window."""
        inp = self.inputs
        expected = {e[0]: ("completed" if e[0] in inp.unsigned_events else "signed") for e in inp.events}
        scores = {r["id"]: r["score"] for r in checks.read_store_table(self.store_root, "entries")}
        events = checks.read_store_table(self.store_root, "events")
        self.signatures.append((i, {r["id"]: r["attestation_signature"] for r in events}))
        if body != expected:
            _complain(f"update {i}: statuses {body} != {expected}")
        bad = {e: (scores.get(e), v) for e, v in inp.expected_scores.items() if scores.get(e) != v}
        if bad:
            _complain(f"update {i}: {len(bad)} entry scores differ, e.g. {list(bad.items())[:3]}")
        return None if body == expected and not bad else False

    def finish(self, n_ops: int) -> list[bool]:
        from noaa_data_pipeline_spark.functions import schnorr

        ok = [True] * n_ops
        oracle = checks.LakeOracle(self.lake)
        expected: dict[tuple, list] = {}
        for i, req, body in self.responses:
            if req not in expected:
                expected[req] = self._expected(oracle, req)
            cols, want = expected[req]
            got = body["rows"] if req[0] == "ui_sql" else body
            got = checks.canon_rows(cols, got)
            if req[0] != "ui_sql":
                got = sorted(got)
            if got != want:
                _complain(f"op {i} {req}: response differs from DuckDB, e.g. "
                          f"{[r for r in got if r not in want][:2]} vs {[r for r in want if r not in got][:2]}")
            ok[i] = ok[i] and got == want
        inp = self.inputs
        for i, sigs in self.signatures:
            for ev, winners in inp.expected_winners.items():
                sig = sigs.get(ev)
                ok[i] = ok[i] and sig is not None and schnorr.verify(
                    gen.winning_bytes(winners), self.pubkey, bytes(sig)
                )
            ok[i] = ok[i] and all(sigs.get(ev) is None for ev in inp.unsigned_events)
        return ok

    def _expected(self, oracle, req):
        kind = req[0]
        if kind == "forecasts":
            return oracle.FORECAST_COLS, oracle.forecasts(req[2], req[3], list(req[1]))
        if kind == "observations":
            return oracle.OBSERVATION_COLS, oracle.observations(req[2], req[3], list(req[1]))
        if kind == "stations":
            return oracle.STATION_COLS, oracle.stations()
        obs = [p for p in self.dropbox if os.path.basename(p).startswith("observations")]
        return checks.ui_sql_rows(obs, UI_QUERIES[req[1]])

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


class AnalyticsHeadline:
    """The registry path: one op builds a fresh frame with one
    ``bench.HEADLINE`` query function and executes it to the noop sink,
    on a seeded lake with sf0.001's row counts."""

    name = "analytics_headline"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
        self.failed_queries: set[str] = set()
        self.names: list[str] = []
        self.traced = False
        self.timings: list[tuple[str, float, float, dict | None]] = []  # (query, build s, execute s, phases)

    def build_inputs(self) -> None:
        gen.write_analytics_tables(self.seed, self.sf_dir)

    def setup(self) -> None:
        import bench

        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.headline = [n for n in bench.HEADLINE if n in self.queries]
        rng = random.Random(f"passes:{self.seed}")
        self.order = [n for _ in range(64) for n in rng.sample(self.headline, len(self.headline))]
        self.first_rows: dict[str, int] = {}

    def warmup(self) -> bool:
        """One pass that collects every query and checks it: the cold
        pass, which also warms the plans the timed passes run."""
        import duckdb

        from tools.check_correctness import TABLES, frame_digest

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        for name in self.headline:
            df = self.queries[name](self.spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            self.first_rows[name] = len(rows)
            if name in self.oracles:
                res = con.execute(self.oracles[name])
                cols = [d[0] for d in res.description]
                if frame_digest(df.columns, rows)[0] != frame_digest(cols, res.fetchall())[0]:
                    self.failed_queries.add(name)
        return not self.failed_queries

    def _run(self, name: str) -> None:
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.sf_dir)
        phases = None
        if self.traced:
            from layers import catalyst_phases

            df._jdf.queryExecution().executedPlan()  # runs the three phases
            phases = catalyst_phases(df)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        self.timings.append((name, t1 - t0, time.perf_counter() - t1, phases))

    def layer_metrics(self) -> dict[str, float]:
        """plans.*: construction vs execution per op and per query;
        catalyst.*: the tracker phases of each op's frame."""
        n = max(len(self.timings), 1)
        m = {
            "plans.build_ms": sum(t[1] for t in self.timings) * 1000 / n,
            "plans.execute_ms": sum(t[2] for t in self.timings) * 1000 / n,
        }
        for p in ("analysis", "optimization", "planning"):
            m[f"catalyst.{p}_ms"] = sum(t[3][p] for t in self.timings if t[3]) / n
        for name in self.headline:
            mine = [t for t in self.timings if t[0] == name]
            if mine:
                m[f"plans.build_ms.{name}"] = sum(t[1] for t in mine) * 1000 / len(mine)
                m[f"plans.execute_ms.{name}"] = sum(t[2] for t in mine) * 1000 / len(mine)
        return m

    def op(self, i: int):
        name = self.order[i % len(self.order)]
        self.names.append(name)
        return name, None, lambda: self._run(name), lambda _: name not in self.failed_queries

    def passes_complete(self, n_ops: int) -> bool:
        return n_ops % len(self.headline) == 0

    def finish(self, n_ops: int) -> list[bool]:
        """Queries without an oracle: the row count must not drift from
        the first pass."""
        for name in self.headline:
            if name not in self.oracles:
                n = self.queries[name](self.spark, self.sf_dir).count()
                if n != self.first_rows[name]:
                    self.failed_queries.add(name)
        return [n not in self.failed_queries for n in self.names[:n_ops]]

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (IngestHourly, OracleServe, AnalyticsHeadline)}
