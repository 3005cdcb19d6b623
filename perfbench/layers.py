"""The traced run: where spans go and how per-layer metrics are derived.

Only ``--trace 1`` runs import this module. ``install`` wraps public
functions of the engine's modules (and ``DataFrame.collect``, to read
Catalyst's ``QueryPlanningTracker`` phases after each collect); the
event log comes from ``get_spark(extra_configs=...)``. Every wrapped
layer is reported on every workload, so a layer a workload bypasses
shows 0 there.

Per-layer figures are per timed op (window total / ops) unless the
name says otherwise; times are in ms.
"""

from __future__ import annotations

import os

import spans as sp

# span name -> (module path or class, attribute, size-of-result function)
_WRAPS = [
    ("noaa_data_pipeline_spark.weather.fetcher:XmlFetcher", "fetch_xml", "fetcher.fetch", None),
    ("noaa_data_pipeline_spark.weather.fetcher:XmlFetcher", "fetch_xml_gzip", "fetcher.fetch", None),
    ("noaa_data_pipeline_spark.weather.sources", "parse_dwml", "sources.parse",
     lambda r: len(r[0]) + len(r[1]) + len(r[2])),
    ("noaa_data_pipeline_spark.weather.sources", "parse_metar", "sources.parse", len),
    ("noaa_data_pipeline_spark.weather.sources", "parse_station_index", "sources.parse", len),
    ("noaa_data_pipeline_spark.weather.sources", "dwml_frames", "sources.frame", None),
    ("noaa_data_pipeline_spark.weather.sources", "metar_df", "sources.frame", None),
    ("noaa_data_pipeline_spark.weather.sources", "station_index_df", "sources.frame", None),
    ("noaa_data_pipeline_spark.weather.flatten", "flatten_forecasts", "flatten.build", None),
    ("noaa_data_pipeline_spark.weather.lake", "write_snapshot", "lake.write_snapshot", None),
    ("noaa_data_pipeline_spark.weather.lake", "read_lake", "lake.read_lake", None),
    ("noaa_data_pipeline_spark.weather.queries", "forecasts_daily", "queries.build", None),
    ("noaa_data_pipeline_spark.weather.queries", "observations_daily", "queries.build", None),
    ("noaa_data_pipeline_spark.weather.queries", "stations", "queries.build", None),
    ("noaa_data_pipeline_spark.weather.api", "forecasts", "api.forecasts", len),
    ("noaa_data_pipeline_spark.weather.api", "observations", "api.observations", len),
    ("noaa_data_pipeline_spark.weather.api", "stations", "api.stations", len),
    ("noaa_data_pipeline_spark.weather.ui", "run_query", "ui.run_query", None),
    ("noaa_data_pipeline_spark.sql_surface", "translate_duckdb", "sql_surface.translate", None),
    ("noaa_data_pipeline_spark.weather.run", "run_etl_batch", "run.run_etl_batch",
     lambda r: sum(v == "signed" for v in r.values())),
    ("noaa_data_pipeline_spark.weather.etl", "score_entries_batch", "etl.score_build", None),
    ("noaa_data_pipeline_spark.weather.etl", "winners_batch", "etl.winners_build", None),
    ("noaa_data_pipeline_spark.weather.event_store:EventStore", "read", "event_store.read", None),
    ("noaa_data_pipeline_spark.weather.event_store:EventStore", "append_frame", "event_store.append_frame", None),
    ("noaa_data_pipeline_spark.weather.event_store:EventStore", "update_scores", "event_store.update_scores", None),
    ("noaa_data_pipeline_spark.weather.event_store:EventStore", "sign_events", "event_store.sign_events", None),
    ("noaa_data_pipeline_spark.functions.schnorr", "sign", "schnorr.sign", None),
    ("noaa_data_pipeline_spark.tables", "load_table", "tables.load_table", None),
]

# server-thread entry points: the HTTP shim's delegates
_DELEGATES = {"api.forecasts", "api.observations", "api.stations", "ui.run_query", "run.run_etl_batch"}
_PHASES = ("analysis", "optimization", "planning")


def _resolve(target: str):
    import importlib

    mod, _, cls = target.partition(":")
    owner = importlib.import_module(mod)
    return getattr(owner, cls) if cls else owner


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of the query execution behind ``df``,
    from its ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in _PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class Layers:
    """Installs the spans for a traced run and turns them into metrics."""

    def __init__(self) -> None:
        self.tracer = sp.Tracer()
        self.phase_log: list[tuple[float, dict[str, float]]] = []  # (epoch s, phases)

    def install(self) -> None:
        for target, attr, name, size in _WRAPS:
            self.tracer.wrap(_resolve(target), attr, name, size)
        from pyspark.sql.classic.dataframe import DataFrame

        original = DataFrame.__dict__["collect"]
        tracer, phase_log = self.tracer, self.phase_log

        def collect(df):
            span = tracer.start("spark.collect")
            try:
                out = original(df)
            except BaseException:
                tracer.end(span, failed=True)
                raise
            tracer.end(span)
            phase_log.append((span.t1, catalyst_phases(df)))
            return out

        DataFrame.collect = collect
        self.tracer._patched.append((DataFrame, "collect", original))

    def restore(self) -> None:
        self.tracer.restore()

    def metrics(self, ops, client_thread: int, event_log: sp.EventLog | None, extra: dict) -> dict:
        """ops: the timed ops (harness.Op); extra: workload-side counts."""
        n = max(len(ops), 1)
        windows = [(o.e0, o.e1) for o in ops]

        def in_window(t: float) -> bool:
            return any(lo <= t <= hi for lo, hi in windows)

        timed = [s for s in self.tracer.spans if in_window(s.t0)]
        summary = sp.summarize(timed)

        def agg(name: str, field: str = "ms") -> float:
            return summary.get(name, {}).get(field, 0.0)

        m: dict[str, float] = {}
        m["fetcher.calls"] = agg("fetcher.fetch", "count") / n
        m["fetcher.fetch_ms"] = agg("fetcher.fetch") / n
        m["fetcher.retries"] = (extra.get("transport_calls", 0) - agg("fetcher.fetch", "count")) / n
        m["sources.parse_ms"] = agg("sources.parse", "self_ms") / n
        m["sources.frame_ms"] = agg("sources.frame", "self_ms") / n
        m["sources.rows_in"] = agg("sources.parse", "n") / n
        m["flatten.build_ms"] = agg("flatten.build") / n
        m["lake.write_snapshot_ms"] = agg("lake.write_snapshot") / n
        m["lake.rows_written"] = extra.get("rows_written", 0) / n
        m["lake.read_lake_ms"] = agg("lake.read_lake") / n
        m["lake.files_in_lake"] = float(extra.get("files_in_lake", 0))
        m["queries.build_ms"] = agg("queries.build") / n
        for route in ("forecasts", "observations", "stations"):
            m[f"api.{route}_ms"] = agg(f"api.{route}") / n
            m[f"api.{route}_calls"] = agg(f"api.{route}", "count") / n
        http_ops = [o for o in ops if o.kind in extra["http_kinds"]]
        delegates = [s for s in timed if s.name in _DELEGATES and s.thread != client_thread]
        if http_ops:
            busy = sum(s.ms for s in delegates)
            m["http_api.self_ms"] = (sum(o.ms for o in http_ops) - busy) / len(http_ops)
        else:
            m["http_api.self_ms"] = 0.0
        m["http_api.non_2xx"] = float(extra.get("non_2xx", 0))
        m["ui.run_query_ms"] = agg("ui.run_query") / n
        m["sql_surface.translate_ms"] = agg("sql_surface.translate") / n
        m["run.run_etl_batch_ms"] = agg("run.run_etl_batch") / n
        m["run.events_signed"] = agg("run.run_etl_batch", "n") / n
        m["etl.score_build_ms"] = agg("etl.score_build") / n
        m["etl.winners_build_ms"] = agg("etl.winners_build") / n
        for op in ("read", "append_frame", "update_scores", "sign_events"):
            m[f"event_store.{op}_ms"] = agg(f"event_store.{op}") / n
        m["schnorr.sign_calls"] = agg("schnorr.sign", "count") / n
        m["schnorr.sign_ms"] = agg("schnorr.sign") / n
        m["tables.load_table_ms"] = agg("tables.load_table") / n
        phases = [p for t, p in self.phase_log if in_window(t)]
        for p in _PHASES:
            m[f"catalyst.{p}_ms"] = sum(x[p] for x in phases) / n
        m["spark.collect_ms"] = agg("spark.collect") / n

        if event_log is not None:
            eng = sp.engine_metrics(event_log, [(lo * 1000, hi * 1000) for lo, hi in windows])
            for key, v in eng.items():
                m[f"spark.{key}"] = v / n
            read_ops = [(o.e0 * 1000, o.e1 * 1000) for o in ops if o.kind in ("forecasts", "observations", "stations")]
            scanned = sp.engine_metrics(event_log, read_ops)["input_records"] if read_ops else 0.0
            rows_out = extra.get("read_rows_out", 0)
            m["lake.rows_out_per_row_scanned"] = rows_out / scanned if scanned else 0.0
        return m

    def session_ms(self) -> float:
        return sum(s.ms for s in self.tracer.spans if s.name == "session.get_spark")


def lake_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(root) for f in files)
