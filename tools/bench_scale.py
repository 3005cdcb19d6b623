#!/usr/bin/env python
"""Scale-up benchmark: demonstrates fixed-cost amortization.

The per-round BENCH runs at sf0.1, where several sub-second queries
sit outside the 2x-of-DuckDB bar purely on Spark's constant per-job
cost (~0.2-0.3 s of scheduling/codegen per query). This harness
builds a ~5x lake (facts replicated with remapped keys so join and
group cardinalities scale linearly; dimensions untouched — the way
real fact tables grow) and times the five flagged queries on Spark
AND on DuckDB (each query's own registry oracle SQL) over the SAME
files. If the gap is fixed cost, the ratio must fall toward (and
under) 2x as the work per job grows; a bad plan would keep or grow
its ratio.

Usage: python tools/bench_scale.py [--replicas N]
Writes BENCH_SCALE.json at the repo root and prints one JSON line.
Scaled data lives under .bench_scale/ (gitignored), rebuilt only
when absent.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

QUERIES = [
    "q9_product_type_profit",
    "q21_waiting_suppliers",
    "text_fingerprint_winnow",
    "orders_scd2_status_intervals",
    "decontam_ngram_overlap",
]

# fact table -> key column(s) remapped per replica (keeps each
# replica a self-contained join island so semantics scale linearly);
# embeddings replicates too so the ANN scale points search a genuinely
# larger corpus (replicated vectors = exact-dup clusters, which only
# makes the LSH bucket-skew path work harder); events replicates with
# BOTH event_id and user_id remapped (r10: the KMV sketch scale point
# needs the USER universe to grow, not just the row count — replicas
# are disjoint user islands, the way a real event stream grows)
FACTS = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id", "user_id"),
}
DIMS = ["region", "nation", "customer", "supplier", "part"]

# entries whose BENCH_SCALE row should also report input-throughput
# (entry -> (table, byte-count column)); bpe_encode_docs is the
# measured tokenization-cost point for the 100 TB story
# name -> (table, bytes expression). encode()'s octet count, not the
# character count (r8 ADVICE: n_chars understates bytes on multi-byte
# corpora, mislabeling the bytes/sec feeding the 100 TB extrapolation)
THROUGHPUT_BYTES = {"bpe_encode_docs": ("documents", "octet_length(encode(text))")}

# Entries whose timed (warm) pass runs against a reused in-session
# index (_reuse_or_swap slots in plans/ivf_pq.py — the faiss
# add-once/search-many contract). For these the repeated-run number
# alone would hide the index BUILD cost, so each scale point also
# records spark_cold_sec: one build-inclusive run after dropping the
# slots (r13 VERDICT: no repeated-run-only ratios in the IVFPQ
# family).
INDEX_REUSE_ENTRIES = {"sim_ivf_pq_adc_search", "sim_ivf_pq_residual_search"}


# Per-replica duplicate rate of the MUTATING replicator (--mutate-dups):
# a replicated document keeps its base text with this probability and
# otherwise has every token suffixed with a replica marker (token-level
# disjoint from the base vocabulary, so it shares no shingles /
# k-grams / simhash features with any other replica). The plain
# replicator's identical-text copies made every base doc an exact-dup
# cluster of `replicas` members — candidate-pair volume grew as
# replicas^2 on BOTH engines, which is a harness artifact, not a
# property of a real 20x corpus (GATE_LOG r9 "Why the dedup family's
# scale rows stop at x5"). At 8% the expected cluster size is
# 1 + 0.08*(replicas-1) and candidate volume tracks the DUP RATE,
# linear in replicas — the realistic web-crawl shape.
MUTATE_DUP_PCT = 8


def build_scaled_lake(replicas: int, mutate_dups: bool = False) -> str:
    suffix = f"x{replicas}mut" if mutate_dups else f"x{replicas}"
    out_dir = os.path.join(REPO, ".bench_scale", suffix)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for table, keys in FACTS.items():
        dst = os.path.join(out_dir, f"{table}.parquet")
        if os.path.islink(dst):  # table reclassified dim -> fact
            os.unlink(dst)
        if os.path.exists(dst):
            continue
        src = os.path.join(BASE, f"{table}.parquet")
        parts = []
        for key in keys:
            mx = con.execute(
                f"SELECT MAX({key}) FROM read_parquet('{src}')"
            ).fetchone()[0]
            parts.append(f"{key} + r.i * {mx + 1} AS {key}")
        replaces = ", ".join(parts)
        if mutate_dups and table == "documents":
            key = keys[0]
            # deterministic per-(doc, replica) coin; replica 0 is the
            # untouched base corpus
            replaces += f""",
                CASE WHEN r.i = 0
                          OR hash({key} * 1000003 + r.i) % 100 < {MUTATE_DUP_PCT}
                     THEN text
                     ELSE regexp_replace(text, '(\\w+)', '\\1r' || r.i, 'g')
                END AS text"""
        con.execute(
            f"""
            COPY (
                SELECT * REPLACE ({replaces})
                FROM read_parquet('{src}'),
                     (SELECT UNNEST(range({replicas})) AS i) r
            ) TO '{dst}' (FORMAT PARQUET)
            """
        )
    for table in DIMS:
        dst = os.path.join(out_dir, f"{table}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE, f"{table}.parquet"), dst)
    con.close()
    return out_dir


def time_best_of(fn, n: int = 3) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=5)
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument(
        "--mutate-dups",
        action="store_true",
        help="replicate documents with per-replica token-salted text "
        f"(~{MUTATE_DUP_PCT}%% kept as true duplicates) so the "
        "pair-verifying dedup entries see a realistic dup rate "
        "instead of replicas^2 exact-dup clusters",
    )
    ap.add_argument(
        "--reps",
        type=int,
        default=3,
        help="best-of-N timed passes per engine (default 3); raise "
        "when the box's page cache is being contended — a best-of "
        "only converges once at least one pass runs fully cached",
    )
    ap.add_argument(
        "--unrouted",
        action="store_true",
        help="run with SPARK_GRAFT_BUCKETED=0 (a cold session that "
        "never built the bucketed lake layout) and record rows under "
        "<name>_unrouted — the fallback plan beside the routed "
        "warehouse default",
    )
    ap.add_argument(
        "--pq-routed",
        action="store_true",
        help="run with SPARK_GRAFT_PQ_INDEX=1 (the registered IVFPQ "
        "searches serve the MATERIALIZED index — r15 routing) and "
        "record rows under <name>_routed. The warmup pass pays the "
        "one-time index build/publish (the ingest contract); the "
        "cold leg then measures a fresh ATTACH (search-only), which "
        "is exactly what a cold session pays once the index is "
        "published",
    )
    args = ap.parse_args()

    # Scale tiers spill real GBs: pin the shuffle scratch to DISK so
    # it never lands on the session default's RAM tmpfs (/dev/shm),
    # where a big spill ENOSPCs and competes with the raised heap
    # (r15 VERDICT item 1). An explicit env still wins.
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/tmp/noaa_spark_scale_local")

    sf_dir = build_scaled_lake(args.replicas, mutate_dups=args.mutate_dups)
    # the session derives its local shuffle width from the lake the
    # env points at — point it at the SCALED lake, not the base SF
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir

    # Warehouse profile (see bench.py): q9/q21 route to the bucketed
    # lake layout; the one-time layout build lands in the warmup pass.
    # --unrouted opts out to time the cold-session fallback plans.
    if args.unrouted:
        os.environ["SPARK_GRAFT_BUCKETED"] = "0"
    else:
        os.environ.setdefault("SPARK_GRAFT_BUCKETED", "1")
    # Default-pin the in-session IVFPQ leg so existing scale rows
    # keep their meaning on a box with a declared index; --pq-routed
    # flips to the materialized-index leg explicitly.
    os.environ["SPARK_GRAFT_PQ_INDEX"] = "1" if args.pq_routed else "0"

    from noaa_data_pipeline_spark.plans import resolve
    from noaa_data_pipeline_spark.session import get_spark

    spark = get_spark("bench_scale")

    if os.environ.get("SPARK_GRAFT_BUCKETED") == "1":
        # Build the bucketed layout BEFORE any timing and flush the
        # page cache's dirty pages: the ~GB-scale layout write
        # otherwise flushes asynchronously underneath the first timed
        # block (measured: the first query after an in-process build
        # read 1.5-3x its steady state; a 9.9 s outlier on a 3.0 s
        # plan), which is a harness artifact — a warehouse pays the
        # layout write at ingest, not at query time.
        from noaa_data_pipeline_spark.plans.scale import bucketed_fact_tables

        bucketed_fact_tables(spark, sf_dir)
        os.sync()

    duck = duckdb.connect()
    from noaa_data_pipeline_spark.tables import TABLE_NAMES

    for t in TABLE_NAMES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    results: dict[str, dict] = {}
    for name in args.queries or QUERIES:
        # any tier is benchable by name (scale curves exist BEFORE a
        # promotion)
        try:
            q = resolve(name)
        except KeyError as exc:
            ap.error(exc.args[0])

        def run_spark():
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        def run_duck():
            duck.execute(q.oracle).fetchall()

        # warm: codegen + C2 JIT + parquet footers need several
        # passes in a fresh JVM before the steady state appears
        for _ in range(3):
            run_spark()
        # An oracle twin that cannot finish at this scale point is a
        # RESULT, not a harness crash (r11: the CC-composite's
        # recursive-closure twin OOMs at x100mut — quadratic in the
        # giant component — while Spark's label propagation
        # completes): record the engine-side failure and keep the
        # Spark wall.
        duck_err: str | None = None
        try:
            run_duck()
        except duckdb.Error as exc:
            duck_err = f"{type(exc).__name__}: {exc}"
            print(f"warning: duckdb twin failed for {name}: {duck_err}",
                  file=sys.stderr)
        spark_s = time_best_of(run_spark, n=args.reps)
        duck_s = time_best_of(run_duck, n=args.reps) if duck_err is None else None
        row_name = f"{name}_unrouted" if args.unrouted else name
        if args.pq_routed and name in INDEX_REUSE_ENTRIES:
            row_name = f"{name}_routed"
        results[row_name] = {
            "spark_sec": spark_s,
            "duckdb_sec": duck_s,
            "ratio": round(spark_s / duck_s, 2) if duck_s else None,
        }
        if duck_err is not None:
            results[row_name]["duckdb_error"] = duck_err
        if name in INDEX_REUSE_ENTRIES:
            # build-inclusive wall: drop the reuse slots so the next
            # run pays codeword training + corpus code assignment,
            # the cost a production ingest batch pays once. Under
            # --pq-routed the build lives in the PUBLISHED layout, so
            # "cold" means a fresh session ATTACH (drop the attach
            # cache too): the next run re-reads footers + runs the
            # search, never the build — the r15 routing contract.
            from noaa_data_pipeline_spark.plans.ivf_pq import (
                _PQ_ATTACH_CACHE,
                reset_search_index_slots,
            )

            reset_search_index_slots()
            if args.pq_routed:
                _PQ_ATTACH_CACHE.clear()
            t0 = time.perf_counter()
            run_spark()
            cold_s = round(time.perf_counter() - t0, 3)
            results[row_name]["spark_cold_sec"] = cold_s
            if duck_s:
                results[row_name]["cold_ratio"] = round(cold_s / duck_s, 2)
        if name in THROUGHPUT_BYTES:
            # tokenizer-cost point for the 100 TB story: corpus bytes
            # per second of the BEST timed pass (same protocol as the
            # seconds themselves)
            table, col = THROUGHPUT_BYTES[name]
            n_bytes = duck.execute(f"SELECT SUM({col}) FROM {table}").fetchone()[0]
            results[row_name]["corpus_bytes"] = int(n_bytes)
            results[row_name]["spark_bytes_per_sec"] = int(n_bytes / spark_s)

    point_key = f"x{args.replicas}mut" if args.mutate_dups else f"x{args.replicas}"
    out = {
        "metric": "scale_bench_spark_vs_duckdb",
        "replicas": args.replicas,
        "scale_point": point_key,
        "base_sf": os.path.basename(BASE.rstrip("/")),
        "queries": results,
    }
    # accumulate scale points: one file, one entry per replica factor
    path = os.path.join(REPO, "BENCH_SCALE.json")
    merged: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)
        if "scale_points" in prior:
            merged = prior
        elif "queries" in prior:  # migrate single-run format
            merged = {
                "metric": prior["metric"],
                "base_sf": prior["base_sf"],
                "scale_points": {f"x{prior['replicas']}": prior["queries"]},
            }
    if not merged:
        merged = {
            "metric": out["metric"],
            "base_sf": out["base_sf"],
            "scale_points": {},
        }
    merged["scale_points"].setdefault(point_key, {}).update(results)
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
