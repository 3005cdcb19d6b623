"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()``
twin on DuckDB over the same parquet tables, then compares
row-count, column names, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(value):
    """Canonicalize a cell for cross-engine comparison."""
    import datetime
    import decimal

    if value is None:
        return "NULL"
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return f"{value:.10g}"
    if isinstance(value, decimal.Decimal):
        return f"{float(value):.10g}"
    if isinstance(value, datetime.datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, bytes):
        return value.hex()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def frame_digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    import hashlib

    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16], lines


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from noaa_data_pipeline_spark.session import get_spark

    # Gate profile (r11, r10 VERDICT task 3): pin the un-bucketed
    # plans explicitly so oracle evidence always covers them, even on
    # a box where a bench run has durably declared the warehouse
    # manifest for this lake (plans/scale.bucketed_lake_available's
    # default routing would otherwise flip q9/q21 to the bucketed
    # twins' plans — output-identical, but then the un-bucketed
    # physical plans would silently lose their oracle coverage).
    os.environ["SPARK_GRAFT_BUCKETED"] = "0"
    # Same rule for the materialized PQ index (r15): default-pin the
    # in-session IVFPQ plans so the full gate's evidence is
    # deterministic regardless of what indexes are published on this
    # box; setdefault (not assignment) so an explicit
    # SPARK_GRAFT_PQ_INDEX=1 run gates the ROUTED leg against the
    # same oracles (both legs are oracle-covered — see GATE_LOG r15).
    os.environ.setdefault("SPARK_GRAFT_PQ_INDEX", "0")

    # the session derives its local shuffle width from the lake the
    # env points at — sync it to the gated lake (argv wins over a
    # stale env from the caller's shell)
    os.environ["SPARK_GRAFT_SF_DIR"] = SF_DIR
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    # Named queries of any tier resolve through the catalog; the
    # default full run is exactly the driver surface, so its PASS
    # count stays the registry evidence.
    if ONLY:
        from noaa_data_pipeline_spark.plans import resolve

        picked, unknown = [], []
        for name in sorted(ONLY):
            try:
                picked.append(resolve(name))
            except KeyError:
                unknown.append(name)
        # a name that resolves NOWHERE must not read as a clean run
        if unknown:
            raise SystemExit(f"unknown query name(s): {unknown}")
        qs = {q.name: q.fn for q in picked}
        oracles = {q.name: q.oracle for q in picked if q.oracle is not None}
    else:
        qs = entrymod.queries()
        oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        spark_s = time.time() - t0
        # The driver's pandas canonicalizer cannot sort list/struct
        # cells (Categorical -> "unhashable type: 'list'"), so a
        # top-level complex column is a gate crash even for rows-only
        # entries. Fail here so the replica can't mask that class.
        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if complex_cols:
            failures.append(name)
            print(
                f"FAIL  {name}: top-level complex column(s) {complex_cols} "
                "would crash the driver canonicalizer — emit a delimited "
                "string (concat_ws/array_join) instead"
            )
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {spark_s:.1f}s) — no oracle")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sh, slines = frame_digest(scols, srows)
            oh, olines = frame_digest(ocols, orows)
            if sh != oh:
                diff_s = [x for x in slines if x not in set(olines)][:3]
                diff_o = [x for x in olines if x not in set(slines)][:3]
                problems.append(f"hash {sh} != {oh}; spark-only={diff_s} oracle-only={diff_o}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"PASS  {name} ({len(srows)} rows, {spark_s:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
