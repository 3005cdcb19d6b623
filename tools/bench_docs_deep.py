#!/usr/bin/env python
"""Documents-only deep scale tier (r12, r11 VERDICT task 4).

The standard bench_scale lakes replicate EVERY fact table, so a
documents-only entry's deep scale points pay a ~13 GB lineitem/
orders/events build they never read. This tier builds ONLY the
documents table (same key-remap replication SQL as build_scaled_lake)
under a distinct lake name (docsxN — never mixed with the full xN
lakes, so no partial-lake hazard) and times one documents-only entry
Spark-vs-DuckDB with the bench_scale protocol (prepared statement,
warm pass, best-of-N).

Motivating result (recorded in GATE_LOG r12): sample_weighted_priority
sat at 6.5-9.1x DuckDB on the full x100-x500 lakes because its Spark
wall was FLAT at the job floor against a sub-second denominator; this
tier pushed the corpus until both engines were compute-bound —
x1000 (5M docs) 6.7x, x5000 (25M) 1.46x, x10000 (50M) 1.15x — the
single-box ratio crosses under the 2x bar once the input outgrows the
floor, with the scale-correct plan unchanged.

Usage: python tools/bench_docs_deep.py [replicas] [entry]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import duckdb

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("WSAMP_REPS", "3"))


def build(replicas: int) -> str:
    out = os.path.join(REPO, ".bench_scale", f"docsx{replicas}")
    os.makedirs(out, exist_ok=True)
    dst = f"{out}/documents.parquet"
    if not os.path.exists(dst):
        # COPY to a per-pid temp name, then one atomic rename into
        # place (r12 ADVICE): a build interrupted mid-COPY must not
        # leave a partial documents.parquet that every later run
        # silently reuses as a valid docsxN lake — the same
        # stage-then-publish protocol the bucketed warehouse builder
        # uses (plans/scale.py bucketed_fact_tables).
        tmp = f"{out}/.documents_{os.getpid()}.parquet.tmp"
        con = duckdb.connect()
        mx = con.execute(
            f"SELECT MAX(doc_id) FROM read_parquet('{BASE}/documents.parquet')"
        ).fetchone()[0]
        con.execute(
            f"""
            COPY (
                SELECT * REPLACE (doc_id + r.i * {mx + 1} AS doc_id)
                FROM read_parquet('{BASE}/documents.parquet'),
                     (SELECT UNNEST(range({replicas})) AS i) r
            ) TO '{tmp}' (FORMAT PARQUET)
            """
        )
        con.close()
        # publish via link(2), NOT rename(2): on POSIX os.rename
        # silently REPLACES an existing destination, so a concurrent
        # builder's complete file would be overwritten (last writer
        # wins) and the lost-race branch would be dead code (r13
        # ADVICE). link fails with EEXIST when a winner already
        # published, which is the semantics the comment always claimed.
        try:
            os.link(tmp, dst)
        except FileExistsError:
            # lost the publish race: the winner's complete file stays
            pass
        os.remove(tmp)
    return out


def lookup(name: str):
    from noaa_data_pipeline_spark.plans import resolve

    try:
        return resolve(name)
    except KeyError as exc:
        raise SystemExit(exc.args[0]) from None


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    entry = sys.argv[2] if len(sys.argv) > 2 else "sample_weighted_priority"
    lake = build(replicas)
    os.environ["SPARK_GRAFT_BUCKETED"] = "0"  # no fact layout in this tier
    # the session derives its local shuffle width from the lake the
    # env points at — point it at the deep-docs lake, not the base SF
    os.environ["SPARK_GRAFT_SF_DIR"] = lake
    from noaa_data_pipeline_spark.session import get_spark

    q = lookup(entry)
    spark = get_spark("bench_docs_deep")
    df = q.fn(spark, lake)

    def run() -> None:
        df.write.format("noop").mode("overwrite").save()

    run()  # warm: codegen + JIT + footer reads
    spark_best = min(
        (lambda t0: (run(), time.perf_counter() - t0)[1])(time.perf_counter())
        for _ in range(REPS)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{lake}/documents.parquet')"
    )
    assert q.oracle, f"{entry} has no oracle"
    con.execute(q.oracle).fetchall()  # warm/parse
    duck_best = min(
        (lambda t0: (con.execute(q.oracle).fetchall(), time.perf_counter() - t0)[1])(
            time.perf_counter()
        )
        for _ in range(REPS)
    )
    n = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{lake}/documents.parquet')"
    ).fetchone()[0]
    print(
        json.dumps(
            {
                "entry": entry,
                "lake": f"docsx{replicas}",
                "n_docs": n,
                "spark_sec": round(spark_best, 3),
                "duckdb_sec": round(duck_best, 3),
                "ratio": round(spark_best / duck_best, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
