"""CLI entrypoints — the Spark counterpart of the reference's two
binaries (daemon + oracle server) plus operational helpers:

    python -m noaa_data_pipeline_spark serve   --lake L --store S --files F [--port P] [--seckey-hex K]
    python -m noaa_data_pipeline_spark daemon  --lake L --stations-url U --forecast-url-template T --observations-url O [--interval S] [--once]
    python -m noaa_data_pipeline_spark etl     --lake L --store S [--seckey-hex K]
    python -m noaa_data_pipeline_spark query   NAME [--sf-dir D] [--limit N]
    python -m noaa_data_pipeline_spark sql     "SELECT ..." [--sf-dir D] [--limit N]

serve mounts the full HTTP route table; daemon runs the hourly
pull loop (``--once`` for a single tick — the scheduler-friendly
form); etl executes one batch scoring/signing pass; query/sql run a
registry entry or guarded ad-hoc SQL and print rows as JSON lines.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys
import time


def _spark():
    from .session import get_spark

    return get_spark("noaa-data-pipeline-spark-cli")


def _print_df(df, limit: int) -> None:
    for row in df.limit(limit).collect():
        print(json.dumps(row.asDict(), default=str))


def cmd_serve(args) -> int:
    from .weather import http_api
    from .weather.event_store import EventStore

    spark = _spark()
    store = EventStore(spark, args.store)
    seckey = bytes.fromhex(args.seckey_hex) if args.seckey_hex else None
    app = http_api.WeatherApp(
        spark, args.lake, store, args.files, oracle_seckey=seckey
    )
    srv = http_api.make_server(app, host=args.host, port=args.port)
    host, port = srv.server_address[:2]
    print(f"serving on http://{host}:{port}", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def cmd_daemon(args) -> int:
    from .weather import daemon
    from .weather.fetcher import RateLimiter, XmlFetcher

    spark = _spark()
    fetcher = XmlFetcher(
        rate_limiter=RateLimiter(args.token_capacity, args.refill_rate)
    )

    def tick() -> None:
        counts = daemon.daemon_tick(
            spark,
            fetcher,
            args.lake,
            station_index_url=args.stations_url,
            forecast_url=lambda batch: args.forecast_url_template.format(
                stations=",".join(batch)
            ),
            observation_url=args.observations_url,
        )
        print(json.dumps({"tick": dt.datetime.utcnow().isoformat(), **counts}), flush=True)

    tick()
    while not args.once:
        time.sleep(args.interval)
        tick()
    return 0


def cmd_etl(args) -> int:
    from .weather import run
    from .weather.event_store import EventStore

    spark = _spark()
    store = EventStore(spark, args.store)
    signer = (
        run.schnorr_signer(bytes.fromhex(args.seckey_hex)) if args.seckey_hex else None
    )
    now = dt.datetime.fromisoformat(args.now) if args.now else dt.datetime.utcnow()
    results = run.run_etl_batch(store, args.lake, now, signer=signer)
    print(json.dumps(results))
    return 0


def cmd_query(args) -> int:
    from .plans import load_all, resolve

    try:
        q = resolve(args.name)
    except KeyError:
        print(f"unknown query {args.name!r}; available: {sorted(load_all())}", file=sys.stderr)
        return 2
    _print_df(q.fn(_spark(), args.sf_dir), args.limit)
    return 0


def cmd_sql(args) -> int:
    from .sql_surface import run_user_sql
    from .tables import register_views

    spark = _spark()
    register_views(spark, args.sf_dir)
    _print_df(run_user_sql(spark, args.sql), args.limit)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="noaa_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("serve", help="HTTP route table (the oracle server)")
    s.add_argument("--lake", required=True)
    s.add_argument("--store", required=True)
    s.add_argument("--files", required=True)
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=9800)
    s.add_argument("--seckey-hex", default=None)
    s.set_defaults(fn=cmd_serve)

    d = sub.add_parser("daemon", help="hourly pull loop (the daemon)")
    d.add_argument("--lake", required=True)
    d.add_argument("--stations-url", required=True)
    d.add_argument(
        "--forecast-url-template",
        required=True,
        help="URL template with {stations} placeholder for the comma list",
    )
    d.add_argument("--observations-url", required=True)
    d.add_argument("--interval", type=int, default=3600)
    d.add_argument("--once", action="store_true")
    d.add_argument("--token-capacity", type=int, default=3)
    d.add_argument("--refill-rate", type=float, default=15.0)
    d.set_defaults(fn=cmd_daemon)

    e = sub.add_parser("etl", help="one batch scoring/signing pass")
    e.add_argument("--lake", required=True)
    e.add_argument("--store", required=True)
    e.add_argument("--seckey-hex", default=None)
    e.add_argument(
        "--now", default=None, help="ISO timestamp for the pass (reprocessing)"
    )
    e.set_defaults(fn=cmd_etl)

    q = sub.add_parser("query", help="run a catalog entry (any tier) by name")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)
    q.set_defaults(fn=cmd_query)

    a = sub.add_parser("sql", help="guarded ad-hoc SQL over the tables")
    a.add_argument("sql")
    a.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    a.add_argument("--limit", type=int, default=20)
    a.set_defaults(fn=cmd_sql)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
