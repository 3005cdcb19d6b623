"""Scale-technique operators: explicit skew salting, sketches, and
two-phase exact aggregation — the patterns that keep plans healthy at
100 TB, exercised as first-class registry entries.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from . import register
from .common import _swap_persisted, dsum, exact_agg, sql_dsum

SALT_BUCKETS = 8

@register(
    "skew_salted_user_join",
    tier="folded",
    oracle="""
    SELECT e.user_id, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e JOIN customer ON e.user_id = c_custkey
    GROUP BY e.user_id, c_mktsegment
    """,
)
def skew_salted_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle join: the fact side gets a random-free
    deterministic salt (user_id % buckets would defeat the purpose —
    a hash of the row's unique id spreads one hot key over
    {SALT_BUCKETS} reducer partitions), the dimension side explodes
    across all salt values. Results are identical to the plain join
    (the oracle runs the unsalted SQL). At 100 TB this is the manual
    fallback when AQE's skew splitting can't help (e.g. skewed
    aggregation keys rather than join keys).
    Folded at r13 (driver-window slot freed for the r13 promotions):
    its oracle IS the plain join SQL — the registered surface keeps
    that semantics in customer_order_counts / events_outcome_scoring
    — and the salting technique stays plan-shape-pinned and
    gate-resolvable by name (tier "folded")."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    salted_ev = ev.withColumn(
        "__salt", F.pmod(F.hash("event_id"), F.lit(SALT_BUCKETS))
    )
    salted_cust = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))).alias("__salt"),
    )
    return (
        salted_ev.join(
            salted_cust,
            (salted_ev.user_id == salted_cust.c_custkey)
            & (salted_ev["__salt"] == salted_cust["__salt"]),
        )
        .groupBy("user_id", "c_mktsegment")
        .agg(F.count("*").alias("n_events"))
    )


HLL_RSD = 0.02
HLL_TOLERANCE = 0.05  # |approx - exact| / exact bound asserted per group


@register(
    "events_distinct_users_hll",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_within_tol
    FROM events
    GROUP BY event_type
    """,
)
def events_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch per event type: the
    constant-memory alternative to exact COUNT(DISTINCT) whose state
    merges associatively across partitions — at 100 TB an exact
    distinct shuffles every key, the sketch shuffles ~1.5 KB per
    group. The sketch estimate itself is algorithm-specific (no SQL
    twin can reproduce it), so the oracle-checked contract is the
    bounded-error property: each group reports the exact count plus a
    boolean asserting the HLL estimate landed within HLL_TOLERANCE of
    it — deterministic because Spark's HLL++ registers are
    order-independent (max-merge) for fixed input. The production
    path drops the exact column and keeps only the sketch;
    tests/test_scale_ops.py additionally bounds the error directly."""
    ev = load_table(spark, sf_dir, "events")
    # r15: two-level aggregation. Planned directly, the one-distinct
    # rewrite keys the PARTIAL aggregate on (event_type, user_id) and
    # ships the 411-word HLL register buffer with EVERY distinct pair
    # through the exchange (~3.3 KB/row of mostly-zero registers, and
    # an ObjectHashAggregate that blocks codegen on the corpus-sized
    # stage). Level 1 below is a plain codegen'd count per pair
    # (8-byte state); level 2 runs the HLL over the deduped pairs —
    # bit-identical registers, because HLL++ is max-merge and
    # duplicate-insensitive — plus exact_users as a pair count and
    # n_events as the count rollup. ~100x fewer shuffle bytes per
    # distinct pair; NULL user_ids stay excluded from both user
    # counts and included in n_events, as before.
    pairs = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    return (
        pairs.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("approx_users"),
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.when(F.col("user_id").isNotNull(), 1)).alias("exact_users"),
        )
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= HLL_TOLERANCE
            ).alias("hll_within_tol"),
        )
    )


# --- events_kmv_theta_sketch_overlap -------------------------------------

KMV_K = 32  # sketch size (k smallest hashes retained per segment)
KMV_CUT = 150.0  # segment = users with a type-s event of value > CUT
# 60-bit hash domain: first 15 hex digits of md5. 2^60 is a power of
# two, so its DOUBLE literal is exact and the estimate arithmetic
# (small-int * 2^60 / theta) is a single IEEE division on both
# engines — bit-identical.
KMV_CAP = 1 << 60

# Persisted sketch of the LAST invocation (graph_eval lifecycle)
_KMV_PERSISTED: list[DataFrame] = []

_SQL_KMV_H = (
    "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


@register(
    "events_kmv_theta_sketch_overlap",
    oracle=f"""
    WITH hashes AS (
        SELECT DISTINCT event_type, {_SQL_KMV_H} AS h
        FROM events WHERE value > {KMV_CUT}
    ),
    sk AS (
        SELECT event_type, h, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY h
        ) AS rn
        FROM hashes
        QUALIFY rn <= {KMV_K}
    ),
    stats AS (
        SELECT event_type,
               CASE WHEN COUNT(*) = {KMV_K}
                    THEN MAX(CASE WHEN rn = {KMV_K} THEN h END)
                    ELSE {KMV_CAP} END AS theta,
               COUNT(*) AS n_sk
        FROM sk GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               LEAST(a.theta, b.theta) AS theta,
               a.theta AS theta_a, b.theta AS theta_b,
               a.n_sk AS n_a, b.n_sk AS n_b
        FROM stats a JOIN stats b ON a.event_type < b.event_type
    ),
    ua AS (
        SELECT p.type_a, p.type_b, s.h
        FROM pairs p JOIN sk s ON s.event_type = p.type_a AND s.h < p.theta
    ),
    ub AS (
        SELECT p.type_a, p.type_b, s.h
        FROM pairs p JOIN sk s ON s.event_type = p.type_b AND s.h < p.theta
    ),
    uni AS (
        SELECT type_a, type_b, COUNT(*) AS n_union FROM (
            SELECT DISTINCT type_a, type_b, h FROM (
                SELECT * FROM ua UNION ALL SELECT * FROM ub
            )
        ) GROUP BY type_a, type_b
    ),
    inter AS (
        SELECT ua.type_a, ua.type_b, COUNT(*) AS n_inter
        FROM ua JOIN ub ON ua.type_a = ub.type_a
                       AND ua.type_b = ub.type_b AND ua.h = ub.h
        GROUP BY ua.type_a, ua.type_b
    )
    SELECT p.type_a, p.type_b,
           CAST(CASE WHEN p.n_a = {KMV_K} THEN {KMV_K - 1} ELSE p.n_a END AS DOUBLE)
               * {KMV_CAP}.0 / CAST(p.theta_a AS DOUBLE) AS est_a,
           CAST(CASE WHEN p.n_b = {KMV_K} THEN {KMV_K - 1} ELSE p.n_b END AS DOUBLE)
               * {KMV_CAP}.0 / CAST(p.theta_b AS DOUBLE) AS est_b,
           CAST(u.n_union AS DOUBLE) * {KMV_CAP}.0 / CAST(p.theta AS DOUBLE)
               AS est_union,
           CAST(COALESCE(i.n_inter, 0) AS DOUBLE) * {KMV_CAP}.0
               / CAST(p.theta AS DOUBLE) AS est_intersect
    FROM pairs p
    JOIN uni u ON u.type_a = p.type_a AND u.type_b = p.type_b
    LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
    """,
)
def events_kmv_theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-sketch SET OPERATIONS across audience segments: per
    event type, the segment "users with a value > {KMV_CUT} event of
    that type" is sketched as its {KMV_K} smallest 60-bit user hashes
    (a bottom-k / KMV sketch), and every segment pair reports
    estimated cardinalities for each side, the union, and the
    intersection — the audience-overlap question (DataSketches-style
    theta sketches) that the registry's other sketches (HLL distinct,
    CMS heavy hitters, GK percentiles) cannot answer, because HLL
    unions but never intersects.

    Estimator: theta_s = the k-th smallest hash (or the 2^60 domain
    cap when the segment has fewer than k members, making the sketch
    exact); est = |{{h < theta}}| * 2^60 / theta. Pair operations use
    theta = min(theta_a, theta_b); hashes below theta from both
    sketches give union (distinct) and intersection (match) samples.
    The same arithmetic runs on both engines over md5-derived hashes,
    so — unlike the HLL entry, whose estimate is algorithm-opaque —
    the actual ESTIMATES hash-match the oracle.

    Scale: ONE corpus-side exchange — the (event_type, h) distinct
    with map-side partial dedup — then a WindowGroupLimit keeps k
    rows per segment; everything after operates on k x segments rows
    (kilobytes at any corpus size: the sketch property) via broadcast
    joins. At 100 TB the sketches are also mergeable across
    ingest batches (bottom-k of a union = bottom-k of the per-batch
    bottom-k's), the same associativity contract the scaled-long
    aggregates rely on."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > KMV_CUT)
    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h")
    )
    hashes = ev.select("event_type", h).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    # The sketch IS the stored artifact (k x segments rows), and the
    # pair assembly below references it from five subtrees (stats on
    # both pair sides, the union/intersection samples) — without the
    # persist the corpus-side distinct re-runs once per reference.
    # Unpersist-on-reentry (the graph_eval lifecycle), then an EAGER
    # count(): this is the one place the registry's lazy-persist rule
    # inverts, because five stages of ONE job hit the cold cache
    # together and serialize on the block locks — measured at x200:
    # no persist 6.4 s, lazy persist 3.45 s, eager fill 1.34 s. The
    # count is a k x segments job (sketch-sized, not corpus-sized: it
    # reads the same exchange the cache fill needs anyway).
    # r10 ADVICE: the construction-time job is the documented
    # exemption in tests/test_staging_r11.py::CONSTRUCTION_LAZY_EXEMPT
    # — the record travelled with the entry through its r12 promotion
    # (the test now exercises the registered entry), and any future
    # laziness meta-test must carry the same exemption.
    sk = _swap_persisted(
        _KMV_PERSISTED,
        hashes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= KMV_K),
    )
    sk.count()
    stats = sk.groupBy("event_type").agg(
        F.when(
            F.count("*") == KMV_K,
            F.max(F.when(F.col("rn") == KMV_K, F.col("h"))),
        )
        .otherwise(F.lit(KMV_CAP))
        .alias("theta"),
        F.count("*").alias("n_sk"),
    )
    a = stats.select(
        F.col("event_type").alias("type_a"),
        F.col("theta").alias("theta_a"),
        F.col("n_sk").alias("n_a"),
    )
    b = stats.select(
        F.col("event_type").alias("type_b"),
        F.col("theta").alias("theta_b"),
        F.col("n_sk").alias("n_b"),
    )
    pairs = (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .withColumn("theta", F.least("theta_a", "theta_b"))
    )
    ska = sk.select(F.col("event_type").alias("type_a"), "h")
    skb = sk.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb"))
    ua = (
        pairs.select("type_a", "type_b", "theta")
        .join(F.broadcast(ska), "type_a")
        .filter(F.col("h") < F.col("theta"))
        .select("type_a", "type_b", "h")
    )
    ub = (
        pairs.select("type_a", "type_b", "theta")
        .join(F.broadcast(skb), "type_b")
        .filter(F.col("hb") < F.col("theta"))
        .select("type_a", "type_b", F.col("hb").alias("h"))
    )
    uni = (
        ua.unionByName(ub)
        .distinct()
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_union"))
    )
    # broadcast (r15): ub is a sketch-sample frame (k x pairs rows,
    # kilobytes at any corpus size — the docstring's own bound); this
    # was the one post-sketch join still planning as SortMergeJoin
    inter = (
        ua.join(F.broadcast(ub.withColumnRenamed("h", "hb")), ["type_a", "type_b"])
        .filter(F.col("h") == F.col("hb"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_inter"))
    )
    cap_d = F.lit(float(KMV_CAP))

    def est(cnt, theta):
        return cnt.cast("double") * cap_d / theta.cast("double")

    return (
        pairs.join(F.broadcast(uni), ["type_a", "type_b"])
        .join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            est(
                F.when(F.col("n_a") == KMV_K, F.lit(KMV_K - 1)).otherwise(
                    F.col("n_a")
                ),
                F.col("theta_a"),
            ).alias("est_a"),
            est(
                F.when(F.col("n_b") == KMV_K, F.lit(KMV_K - 1)).otherwise(
                    F.col("n_b")
                ),
                F.col("theta_b"),
            ).alias("est_b"),
            est(F.col("n_union"), F.col("theta")).alias("est_union"),
            est(F.coalesce(F.col("n_inter"), F.lit(0)), F.col("theta")).alias(
                "est_intersect"
            ),
        )
    )


@register(
    "q1_pricing_summary_exact_agg",
    tier="folded",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(FLOOR(l_quantity * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_qty,
           (CAST(SUM(CAST(FLOOR(l_extendedprice * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)
               / COUNT(l_extendedprice) AS avg_price,
           MIN(l_shipdate) AS first_ship,
           MAX(l_shipdate) AS last_ship,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary_exact_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-safe two-phase aggregation path (plans/common.py
    exact_agg): scaled-long partials per (partition, group) map-side,
    DECIMAL combine across partitions — exact at any per-group
    cardinality, unlike single-level long sums whose overflow envelope
    is finite. Same oracle semantics as the single-level form.
    Folded at r13 (driver-window slot freed for the r13 promotions):
    technique twin of the registered q1_pricing_summary; the
    exact_agg helper stays value-tested (tests/test_scale_ops.py)
    and this plan stays shape-pinned and gate-resolvable by name."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return exact_agg(
        li,
        keys=["l_returnflag", "l_linestatus"],
        sums={"sum_qty": "l_quantity"},
        avgs={"avg_price": "l_extendedprice"},
        mins={"first_ship": "l_shipdate"},
        maxs={"last_ship": "l_shipdate"},
        count_alias="count_order",
    )


GK_ACCURACY = 10000  # rank error <= n / accuracy per group
GK_PERCENTILES = [0.5, 0.95, 0.99]


@register(
    "events_percentiles_approx_sketch",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_rank_ok, TRUE AS p95_rank_ok, TRUE AS p99_rank_ok
    FROM events
    GROUP BY event_type
    """,
)
def events_percentiles_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (approx_percentile / Greenwald-
    Khanna): p50/p95/p99 of value per event_type at accuracy 10^4 —
    the single-pass, fixed-memory alternative to the exact
    percentile entry (events_value_percentiles sorts per group). At
    100 TB the sketch is what runs: partial sketches merge
    associatively map-side, memory is O(accuracy) per group
    regardless of row count.

    Oracle-checked via the GK rank guarantee (the sketch values
    themselves are engine-specific): each returned value v must
    occupy a rank interval [count(<v)+1, count(<=v)] intersecting
    the target rank p*n within ±(n/accuracy + 1) — verified exactly
    by one extra pass over the group and emitted as booleans the
    oracle asserts TRUE. tests/test_scale_ops.py additionally bounds
    the values against exact percentiles."""
    ev = load_table(spark, sf_dir, "events")
    sketch = ev.groupBy("event_type").agg(
        F.percentile_approx("value", GK_PERCENTILES, GK_ACCURACY).alias("pcts"),
    )
    joined = ev.join(F.broadcast(sketch), "event_type")
    aggs = [F.count("*").alias("n")]
    for i, _ in enumerate(GK_PERCENTILES):
        v = F.col("pcts")[i]
        aggs += [
            F.sum((F.col("value") < v).cast("long")).alias(f"lt_{i}"),
            F.sum((F.col("value") <= v).cast("long")).alias(f"le_{i}"),
        ]
    counted = joined.groupBy("event_type").agg(*aggs)
    out_cols = [F.col("event_type"), F.col("n")]
    for i, p in enumerate(GK_PERCENTILES):
        target = F.lit(p) * F.col("n")
        slack = F.col("n") / GK_ACCURACY + 1
        ok = (F.col(f"lt_{i}") + 1 <= target + slack) & (
            F.col(f"le_{i}") >= target - slack
        )
        out_cols.append(ok.alias(f"p{int(p * 100)}_rank_ok"))
    return counted.select(*out_cols)


@register(
    "events_column_profile",
    oracle=f"""
    SELECT 'value' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(value) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT value) AS BIGINT) AS n_distinct,
           MIN(value) AS min_num, MAX(value) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM events
    UNION ALL
    SELECT 'event_type',
           CAST(COUNT(*) AS BIGINT), CAST(COUNT(event_type) AS BIGINT),
           CAST(COUNT(DISTINCT event_type) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           MIN(event_type), MAX(event_type)
    FROM events
    UNION ALL
    SELECT 'user_id',
           CAST(COUNT(*) AS BIGINT), CAST(COUNT(user_id) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM events
    """,
)
def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiling (the deequ/profiler stage every
    training pipeline runs before ingest): per-column row/non-null/
    distinct counts and min/max, one row per profiled column. Scale:
    ONE corpus scan computes every column's profile (r15: the
    previous per-column ``ev.agg(...)`` union really planned THREE
    scans, each a corpus-wide Sort + SortAggregate chain — the
    string-typed min/max buffer disqualifies hash aggregation, the
    same fallback docs_exact_substring_purge hit): the scan unpivots
    to one typed (column_name, dval, lval, sval) row per profiled
    cell via ``inline``, level 1 hash-aggregates occurrence counts
    per distinct typed value (fixed-width long buffer — map-side
    combine ships only distinct values, exactly what the two-phase
    exact COUNT(DISTINCT) shipped), and level 2 reduces the deduped
    value table — rows/non-null/distinct counts from the occurrence
    counts, min/max straight off the group keys (grouping on the
    typed slots keeps SQL double semantics: -0.0/NaN normalize the
    same way COUNT(DISTINCT value) always normalized them). The
    only SortAggregate left runs on the vocabulary-sized level-2
    input; swap in approx_count_distinct at 100 TB when cardinality
    tolerance allows. Numeric and string min/max occupy typed
    columns (a shared VARCHAR rendering would hang engine-specific
    double formatting into the hash gate).

    Documented preconditions (r15 ADVICE, both unreachable in any
    shipped lake): (1) NON-EMPTY events — the unpivoted groupBy
    returns 0 rows on an empty table where the oracle's UNION ALL of
    global aggregates returns 3 zero-count rows; (2) NO -0.0 values —
    grouping on the raw double slot normalizes -0.0 to 0.0 before
    min/max (NormalizeFloatingNumbers rewrites group keys), so
    min_num could render '0' where the oracle's row-level MIN keeps
    '-0'. If either ever enters the lake, right-join the three
    column_name literals resp. normalize the oracle side
    (MIN(value + 0.0))."""
    ev = load_table(spark, sf_dir, "events")

    def slot(name: str, dval: F.Column, lval: F.Column, sval: F.Column):
        return F.struct(
            F.lit(name).alias("column_name"),
            dval.alias("dval"),
            lval.alias("lval"),
            sval.alias("sval"),
        )

    null_d = F.lit(None).cast("double")
    null_l = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")
    cells = ev.select(
        F.inline(
            F.array(
                slot("value", F.col("value"), null_l, null_s),
                slot("event_type", null_d, null_l, F.col("event_type")),
                slot("user_id", null_d, F.col("user_id"), null_s),
            )
        )
    )
    vals = cells.groupBy("column_name", "dval", "lval", "sval").agg(
        F.count("*").alias("cnt")
    )
    nonnull = (
        F.col("dval").isNotNull()
        | F.col("lval").isNotNull()
        | F.col("sval").isNotNull()
    )
    num = F.coalesce(F.col("dval"), F.col("lval").cast("double"))
    return vals.groupBy("column_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(nonnull, F.col("cnt")).otherwise(F.lit(0))).alias("n_nonnull"),
        F.count(F.when(nonnull, F.lit(1))).alias("n_distinct"),
        F.min(num).alias("min_num"),
        F.max(num).alias("max_num"),
        F.min("sval").alias("min_str"),
        F.max("sval").alias("max_str"),
    )


N_BUCKETS = 8
# STABLE shared root (r11, r10 VERDICT task 3): a layout plus its
# manifest survives the process that built it, so a COLD
# default-configured session can route onto a previously-declared
# warehouse layout (file presence, not hidden session state). The r6
# concurrent-writer hazard that motivated the old per-pid root is
# handled differently now: builders write into a per-pid staging dir
# and PUBLISH with one atomic os.rename — a reader either sees no
# layout (and builds its own) or a complete one, never a half-write.
_BUCKET_ROOT = "/tmp/noaa_spark_bucketed"
_FACTS = [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]


def _manifest_path(tag: str) -> str:
    return os.path.join(_BUCKET_ROOT, tag, "manifest.json")


def _read_manifest(tag: str) -> dict | None:
    """The layout manifest, or None unless it parses AND every data
    file it lists is still on disk (a half-deleted /tmp cache must
    read as absent, not as a routable warehouse)."""
    try:
        with open(_manifest_path(tag)) as fh:
            m = json.load(fh)
    except (OSError, ValueError):
        return None
    files = m.get("files")
    if not isinstance(files, dict) or set(files) != {n for n, _ in _FACTS}:
        return None
    for name, names in files.items():
        d = os.path.join(_BUCKET_ROOT, tag, name)
        if not names or not all(
            os.path.isfile(os.path.join(d, f)) for f in names
        ):
            return None
    return m


def _write_manifest(dirpath: str, payload: dict) -> None:
    """Atomic manifest (re)write: temp file + rename, so a concurrent
    reader never parses a partial JSON."""
    tmp = os.path.join(dirpath, f".manifest_{os.getpid()}.tmp")
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=1)
    os.replace(tmp, os.path.join(dirpath, "manifest.json"))


def _bucket_tag(sf_dir: str) -> str:
    """Cache key for a bucketed copy of one lake: the lake's FULL
    path (hashed — two lakes sharing a basename must not collide)
    plus a content fingerprint (file count + total bytes + max
    mtime of the source parquet for the bucketed tables), so a lake
    regenerated in place mid-session gets a fresh tag and the
    catalog short-circuit in bucketed_fact_tables can never serve a
    stale copy (r6 ADVICE)."""
    import glob as _glob
    import hashlib as _hashlib
    import re as _re

    base = _re.sub(r"[^a-z0-9]+", "_", sf_dir.strip("/").split("/")[-1].lower())
    n_files, total, mtime = 0, 0, 0.0
    for name in ("orders", "lineitem"):
        for p in _glob.glob(os.path.join(sf_dir, f"{name}*")):
            paths = (
                [
                    q
                    for q in _glob.glob(os.path.join(p, "**", "*"), recursive=True)
                    if os.path.isfile(q)
                ]
                if os.path.isdir(p)
                else [p]
            )
            for q in paths:
                st = os.stat(q)
                n_files += 1
                total += st.st_size
                mtime = max(mtime, st.st_mtime)
    fp = _hashlib.sha1(
        f"{os.path.abspath(sf_dir)}|{n_files}|{total}|{mtime}".encode()
    ).hexdigest()[:10]
    return f"{base}_{fp}"


def _one_file_per_bucket(path: str) -> bool:
    """True iff every parquet file under ``path`` carries a distinct
    bucket ID (the ``_NNNNN`` filename suffix Spark's bucketed writer
    emits and its scan planner parses back). Empty buckets are fine —
    no file means no rows, so the per-bucket sorted-output claim
    holds vacuously; what must never happen is two files sharing a
    bucket ID, whose concatenation is unsorted."""
    import glob as _glob
    import re as _re

    ids = []
    for p in _glob.glob(os.path.join(path, "*.parquet")):
        if not os.path.isfile(p):
            continue
        m = _re.search(r"_(\d{5})(?=\.)", os.path.basename(p))
        if m is None:
            return False  # unrecognizable layout: claim nothing
        ids.append(int(m.group(1)))
    return len(ids) > 0 and len(ids) == len(set(ids))


def bucketed_lake_available(spark: SparkSession, sf_dir: str) -> bool:
    """Lake-layout router predicate (r6 VERDICT task 2; manifest
    routing r11, r10 VERDICT task 3). Decision ladder:

    1. ``SPARK_GRAFT_BUCKETED=1`` — explicit warehouse profile
       (bench/scale runs): route bucketed; the first consumer
       builds/attaches the layout via :func:`bucketed_fact_tables`.
    2. ``SPARK_GRAFT_BUCKETED=0`` — explicit pin to the un-bucketed
       plans. The correctness gates set this (tools/
       check_correctness.py) so oracle evidence always covers the
       un-bucketed plans deterministically.
    3. env unset — route bucketed iff a DECLARED warehouse manifest
       for this exact lake fingerprint + bucket count exists on disk
       (``warehouse: true``, written only by a build that ran under
       env=1 or via :func:`declare_warehouse`). This is the r10
       VERDICT task-3 self-serve path: once a warehouse run built
       the layout at x100, a cold default session runs the routed
       ≤1.86x plan instead of the 4x fallback.

    Why a manifest and not session state (r7 ADVICE): the old
    catalog-presence probe made q9/q21's physical plan depend on what
    happened EARLIER IN THE SAME SESSION — e.g. a plan-shape test
    building the layout silently flipped every later call, so the
    un-bucketed plans could lose oracle evidence in the very gate
    meant to re-prove them. The manifest is durable on-disk state,
    keyed to the lake's content fingerprint, inspectable, and an
    INCIDENTAL build (lake_bucketed_copartition_join running inside a
    gate, env unset) records ``warehouse: false`` — it never flips
    routing. tests/test_bucketed_routing.py pins all four rungs."""
    env = os.environ.get("SPARK_GRAFT_BUCKETED")
    if env == "1":
        return True
    if env == "0":
        return False
    n_buckets = max(N_BUCKETS, spark.sparkContext.defaultParallelism)
    m = _read_manifest(f"{_bucket_tag(sf_dir)}_b{n_buckets}")
    return bool(m and m.get("warehouse"))


# (applicationId, tag) -> (orders, lineitem): skips the per-call
# catalog round-trips and source re-fingerprinting once the session
# has served a lake's bucketed copies (a DataFrame is an immutable
# plan, so handing out the same one is free — same pattern as
# tables._TABLE_CACHE).
_BUCKETED_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Write orders and lineitem as bucketed tables (same bucket
    count, same key) and return the catalog-backed frames.

    Bucketing is THE storage-level answer to the repeated fact⋈fact
    shuffle: both tables are hash-clustered on the order key at
    WRITE time, so every later join or aggregate on that key reads
    co-located buckets and skips the exchange entirely — at 100 TB
    that turns the dominant per-query network cost into a one-time
    write cost. The bucket COUNT is the post-scan parallelism cap
    for every consumer (a bucketed scan cannot split a bucket), so
    it is sized to the cluster width (defaultParallelism, floor
    {N_BUCKETS}) — the x20 A/B that motivated this: 8 buckets ran
    the whole Q21 aggregate chain on 8 of 32 cores and LOST to the
    exchange it saved (1.82 s vs 1.62 s); at cluster width the same
    plan wins (see q21_waiting_suppliers_bucketed). The pre-write
    repartition yields one file per bucket here (small SFs); at
    scale you keep multiple sorted files per bucket and Spark
    sort-merges within the bucket, still shuffle-free.

    r11: the layout persists under a STABLE root with a manifest
    (atomic staging-dir publish), and sessions ATTACH to published
    files via external-table DDL instead of rewriting — a build under
    SPARK_GRAFT_BUCKETED=1 (or declare_warehouse) durably declares
    the warehouse profile that bucketed_lake_available's default
    routing reads."""
    n_buckets = max(N_BUCKETS, spark.sparkContext.defaultParallelism)
    tag = f"{_bucket_tag(sf_dir)}_b{n_buckets}"
    cache_key = (spark.sparkContext.applicationId, tag)
    cached = _BUCKETED_CACHE.get(cache_key)
    if cached is not None:
        return cached
    final_dir = os.path.join(_BUCKET_ROOT, tag)
    declared = os.environ.get("SPARK_GRAFT_BUCKETED") == "1"
    manifest = _read_manifest(tag)
    if manifest is None:
        # Build into a per-pid staging dir and PUBLISH with one atomic
        # rename — concurrent readers (parallel pytest + a gate sweep,
        # the r6 ADVICE hazard) see either no layout or a complete one.
        staging = os.path.join(_BUCKET_ROOT, f".build_{tag}_{os.getpid()}")
        shutil.rmtree(staging, ignore_errors=True)
        import glob as _glob

        files: dict[str, list[str]] = {}
        for name, key in _FACTS:
            tmp_tbl = f"bkt_build_{name}_{tag}_{os.getpid()}"
            path = os.path.join(staging, name)
            (
                load_table(spark, sf_dir, name)
                .repartition(n_buckets, key)
                .write.bucketBy(n_buckets, key)
                .sortBy(key)
                .option("path", path)
                .mode("overwrite")
                .saveAsTable(tmp_tbl)
            )
            # external table (explicit path): DROP unregisters the
            # build handle, the data files stay for the attach below
            spark.sql(f"DROP TABLE {tmp_tbl}")
            files[name] = sorted(
                os.path.basename(p)
                for p in _glob.glob(os.path.join(path, "*.parquet"))
            )
        _write_manifest(
            staging,
            {
                "n_buckets": n_buckets,
                "keys": dict(_FACTS),
                "files": files,
                "warehouse": declared,
            },
        )
        try:
            os.rename(staging, final_dir)
        except OSError:
            # lost a publish race, or a stale half-deleted final dir
            # is in the way: keep a valid existing layout, else
            # replace the debris with ours
            if _read_manifest(tag) is None:
                shutil.rmtree(final_dir, ignore_errors=True)
                os.rename(staging, final_dir)
            else:
                shutil.rmtree(staging, ignore_errors=True)
        manifest = _read_manifest(tag)
    if declared and manifest is not None and not manifest.get("warehouse"):
        # an env=1 session upgrades an incidentally-built layout to a
        # declared warehouse (durable: later cold sessions auto-route)
        manifest["warehouse"] = True
        _write_manifest(final_dir, manifest)
    out: list[DataFrame] = []
    one_file_per_bucket = True
    for name, key in _FACTS:
        tbl = f"bkt_{name}_{tag}"
        path = os.path.join(final_dir, name)
        if not spark.catalog.tableExists(tbl):
            # ATTACH, never rewrite: an external bucketed table over
            # the published files. The builder session takes the same
            # path as a cold one, so the attach DDL is exercised on
            # every route (not just the cross-session case).
            ddl = spark.read.parquet(path)._jdf.schema().toDDL()
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
            )
        one_file_per_bucket = one_file_per_bucket and _one_file_per_bucket(path)
        out.append(spark.table(tbl))
    # Use the write-time sortBy at SCAN time: Spark 3+ ignores bucket
    # sort metadata by default (with >1 file per bucket the claim
    # would be wrong — each FILE is sorted, their concatenation is
    # not, and a merge join on it would silently produce wrong rows),
    # so the sorted-scan conf is set ONLY after verifying the layout
    # this writer guarantees: at most one file per bucket ID, parsed
    # from each filename's _NNNNN suffix (r10 ADVICE: a bare
    # file-count == n_buckets check does not imply one file PER
    # bucket — an empty bucket plus a two-file bucket also totals
    # n_buckets). Spark independently re-verifies the same property
    # at scan planning (FileSourceScanExec only trusts the legacy
    # outputOrdering conf for single-file buckets), so this guard is
    # about setting the conf honestly, not the last line of defense.
    # Elides both SMJ sorts in the q9/q21
    # twins — measured 1.03 s -> 0.86 s at x100 (GATE_LOG r10). A
    # multi-file layout (the at-scale shape the docstring above
    # describes) keeps the conf false and pays the per-bucket sort.
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering",
        "true" if one_file_per_bucket else "false",
    )
    for k in [k for k in _BUCKETED_CACHE if k[0] != cache_key[0]]:
        del _BUCKETED_CACHE[k]
    _BUCKETED_CACHE[cache_key] = (out[0], out[1])
    return out[0], out[1]


def declare_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Build (if absent) the bucketed layout for ``sf_dir`` and mark
    its manifest ``warehouse: true`` — the explicit self-serve
    declaration (r10 VERDICT task 3): after this one-time ingest
    step, every later DEFAULT-configured session on this lake routes
    q9/q21 to the bucketed plans, no env var needed. Returns the
    layout directory. Equivalent to running any bucketed consumer
    under ``SPARK_GRAFT_BUCKETED=1``; an explicit ``=0`` still pins
    the un-bucketed plans (the gate profile)."""
    bucketed_fact_tables(spark, sf_dir)
    n_buckets = max(N_BUCKETS, spark.sparkContext.defaultParallelism)
    tag = f"{_bucket_tag(sf_dir)}_b{n_buckets}"
    manifest = _read_manifest(tag)
    if manifest is None:  # pragma: no cover - build just published it
        raise RuntimeError(f"bucketed layout missing after build: {tag}")
    if not manifest.get("warehouse"):
        manifest["warehouse"] = True
        _write_manifest(os.path.join(_BUCKET_ROOT, tag), manifest)
    return os.path.join(_BUCKET_ROOT, tag)


@register(
    "lake_bucketed_copartition_join",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def lake_bucketed_copartition_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join via bucketed storage: orders and
    lineitem are bucketed on the order key at write time (see
    bucketed_fact_tables), so the join reads co-located buckets with
    NO exchange on either side — the plan-shape test asserts the
    join subtree is exchange-free. The oracle runs the plain join on
    the un-bucketed views: results must be identical, only the
    physical plan differs. Scale: this is the canonical pattern for
    a fact table joined on the same key by many queries — pay the
    cluster-wide shuffle once at ingest, never again."""
    orders, li = bucketed_fact_tables(spark, sf_dir)
    # the merge hint pins the sort-merge strategy both sides are
    # bucketed for; without it the planner broadcasts at toy SFs and
    # ignores the bucketing (both facts outgrow broadcast at scale)
    return (
        orders.join(li.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# --- lake_bloom_semijoin_prune -----------------------------------------

BLOOM_M = 16384  # filter bits (~5.4 bits/key at the sf0.01 build side)
BLOOM_K = 3  # hash probes per key
BLOOM_SEGMENT = "BUILDING"  # the selective build-side predicate


def _bloom_pos(key: Column, j: int, m: int = BLOOM_M) -> Column:
    """Probe j's bit position for ``key``: bits [20j, 20j+20) of a
    single 60-bit integer taken from md5's first 15 hex chars, mod m —
    the repo's portable-hash idiom (identical in Java and DuckDB),
    sliced Kirsch-Mitzenmacher style so the probe side pays ONE hash
    and ONE hex->int conversion per key instead of k of each (real
    Bloom implementations derive all k positions from one or two base
    hashes for the same reason). k <= 3 (3 x 20 bits in the 60), and
    m <= 2^20."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    return F.shiftright(h, 20 * j).bitwiseAND(F.lit((1 << 20) - 1)) % m


def _sql_bloom_pos(key: str, j: int, m: int = BLOOM_M) -> str:
    return (
        f"((CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15)) AS BIGINT) "
        f">> {20 * j}) & {(1 << 20) - 1}) % {m}"
    )


@register(
    "lake_bloom_semijoin_prune",
    tier="staged",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT c_custkey AS k FROM customer
        WHERE c_mktsegment = '{BLOOM_SEGMENT}'
    ),
    hpos AS (
        SELECT DISTINCT
            ((CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)
              >> (20 * j)) & 1048575) % {BLOOM_M} AS pos
        FROM build CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS j)
    ),
    flags AS (
        SELECT
            ({" AND ".join(f"({_sql_bloom_pos('o.o_custkey', j)}) IN (SELECT pos FROM hpos)" for j in range(BLOOM_K))})
                AS pass_bloom,
            o.o_custkey IN (SELECT k FROM build) AS is_member
        FROM orders o
    )
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build_keys,
        CAST({BLOOM_M} AS BIGINT) AS m_bits,
        CAST({BLOOM_K} AS BIGINT) AS k_hashes,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM hpos) AS bits_set,
        CAST(COUNT(*) AS BIGINT) AS n_probe,
        CAST(SUM(CASE WHEN pass_bloom THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
        CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
        CAST(SUM(CASE WHEN pass_bloom AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
        CAST(SUM(CASE WHEN is_member AND NOT pass_bloom THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
        CASE WHEN COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END) > 0
             THEN (1000000 * SUM(CASE WHEN pass_bloom AND NOT is_member THEN 1 ELSE 0 END))
                  // (COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END))
             ELSE 0 END AS fp_ppm
    FROM flags
    """,
)
def lake_bloom_semijoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join prune report: build an
    m=BLOOM_M-bit, k=BLOOM_K-probe Bloom filter over the
    BLOOM_SEGMENT-segment customer keys, broadcast it as one sorted
    bit-position array, test every order map-side, and compare
    against the exact semi-join. Registered binding of
    :func:`bloom_semijoin_report` at the oracle-expressible fixed
    defaults; production tuning (m sized ~10 bits/key off the build
    cardinality estimate, like Spark's own InjectRuntimeFilter
    sizing) happens through the parameters.

    This is the explicit form of the runtime filter every warehouse
    injects into selective big joins (Spark: InjectRuntimeFilter /
    BloomFilterAggregate; the reference's analogue is its semi-join
    reduction of fetched METAR rows to indexed stations,
    crates/daemon/src/domains/observations/download_observations.rs:254-256)
    — made deterministic
    (md5-derived positions, identical in both engines) so the FP/FN
    accounting itself is hash-gate-checkable. ``n_false_neg`` is a
    structural self-check: a Bloom filter can never produce false
    negatives, so the column must be 0 on every lake (the fuzz test
    asserts it across random lakes).

    Scale: the build side aggregates to <= m distinct bit positions
    (sketch-sized regardless of corpus scale) and crosses onto the
    probe side as a 1-row broadcast (the audited 1-row
    BroadcastNestedLoopJoin pattern); membership is a map-side
    array_contains x k — the probe corpus NEVER shuffles, and the
    only full-width pass is the final partial-then-global count
    aggregation. The exact-truth comparison broadcasts the build key
    set (dimension-sized). At 100 TB: m scales with the build-side
    cardinality (m ~ 10n bits for ~1% FP at k=3), still broadcastable
    at billions of build keys via int ranges; the report's fp_ppm is
    the signal that says when m is undersized."""
    return bloom_semijoin_report(spark, sf_dir)


def bloom_semijoin_report(
    spark: SparkSession,
    sf_dir: str,
    m: int = BLOOM_M,
    k_hashes: int = BLOOM_K,
    segment: str = BLOOM_SEGMENT,
) -> DataFrame:
    """Parameterized core of ``lake_bloom_semijoin_prune`` — see the
    staged binding's docstring for semantics and scale notes."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = (
        cust.filter(F.col("c_mktsegment") == segment)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    pos = build.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("k"), j, m) for j in range(k_hashes)])
        ).alias("pos")
    ).distinct()
    # Pack the filter into dense 64-bit words so membership is an
    # O(1) element_at + shift/AND per probe — an array_contains over
    # the raw position list is an O(m) linear scan per probe and was
    # measured 50x slower than the oracle's hashed IN at x5. This is
    # also how Spark's own BloomFilterImpl stores its bits.
    n_words = (m + 63) // 64
    words = pos.groupBy((F.col("pos") / 64).cast("long").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))").alias(
            "word"
        )
    )
    # densify sparse (word_idx, word) rows into one fixed-length array
    # via a map lookup per slot — sketch-sized work, and one frame
    # fewer to broadcast than a range-frame outer join
    bits_row = words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word_idx", "word")))
        ).alias("wmap")
    ).select(
        F.expr(
            f"transform(sequence(0, {n_words - 1}), "
            "i -> coalesce(wmap[CAST(i AS BIGINT)], CAST(0 AS BIGINT)))"
        ).alias("words")
    )
    build_agg = build.agg(F.count("*").cast("long").alias("n_build_keys"))
    member = build.withColumn("is_member", F.lit(True))
    probe = orders.select("o_custkey")
    if not 1 <= k_hashes <= 3:
        raise ValueError(f"k_hashes must be 1..3 (20-bit slices), got {k_hashes}")
    if m > 1 << 20:
        raise ValueError(f"m must be <= 2^20 (20-bit slices), got {m}")
    pass_bloom = F.lit(True)
    for j in range(k_hashes):  # map-side membership: ALL k positions set
        p = (
            f"((shiftright(CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15), 16, 10) AS BIGINT), {20 * j}) & 1048575) % {m})"
        )
        pass_bloom = pass_bloom & F.expr(
            f"(shiftright(element_at(words, CAST({p} / 64 AS INT) + 1), "
            f"CAST({p} % 64 AS INT)) & 1) = 1"
        )
    flags = (
        probe.crossJoin(F.broadcast(bits_row))
        .withColumn("pass_bloom", pass_bloom)
        .join(F.broadcast(member), F.col("o_custkey") == F.col("k"), "left")
        .withColumn("is_member", F.coalesce(F.col("is_member"), F.lit(False)))
    )
    report = flags.agg(
        F.count("*").cast("long").alias("n_probe"),
        F.sum(F.when(F.col("pass_bloom"), 1).otherwise(0)).cast("long").alias("n_pass_bloom"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).cast("long").alias("n_true_match"),
        F.sum(F.when(F.col("pass_bloom") & ~F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        F.sum(F.when(F.col("is_member") & ~F.col("pass_bloom"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_neg"),
    )
    return (
        report.crossJoin(F.broadcast(build_agg))
        # same subtree as the probe-side broadcast -> ReusedExchange,
        # not a second materialization; bits_set = set-bit population
        # of the packed words (== COUNT(DISTINCT pos) by construction)
        .crossJoin(F.broadcast(bits_row))
        .select(
            "n_build_keys",
            F.lit(m).cast("long").alias("m_bits"),
            F.lit(k_hashes).cast("long").alias("k_hashes"),
            F.expr(
                "aggregate(words, CAST(0 AS BIGINT), (acc, w) -> acc + bit_count(w))"
            ).alias("bits_set"),
            "n_probe",
            "n_pass_bloom",
            "n_true_match",
            "n_false_pos",
            "n_false_neg",
            F.when(
                (F.col("n_probe") - F.col("n_true_match")) > 0,
                F.expr("(1000000 * n_false_pos) div (n_probe - n_true_match)"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("fp_ppm"),
        )
    )


Z_BITS = 4  # bits per dimension in the z-order key


def _z_terms(x: str, y: str, spark_dialect: bool) -> str:
    """Bit-interleave expression for a 2-D z-order key, generated
    once for both dialects so they cannot drift: Spark SQL spells
    shifts as shiftleft/shiftright functions, DuckDB as << / >>."""
    terms = []
    for i in range(Z_BITS):
        if spark_dialect:
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "lake_zorder_key",
    oracle=f"""
    SELECT event_id,
           CAST(x_b AS BIGINT) AS x_b, CAST(y_b AS BIGINT) AS y_b,
           CAST({_z_terms('x_b', 'y_b', spark_dialect=False)} AS BIGINT) AS z_key
    FROM (
        SELECT event_id,
               user_id % {1 << Z_BITS} AS x_b,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
                   % {1 << Z_BITS} AS y_b
        FROM events
    ) b
    """,
)
def lake_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two scan dimensions
    (user bucket x day bucket): range-partitioning and sorting the
    lake by this interleaved key gives every output file a TIGHT
    min-max envelope on BOTH dimensions simultaneously, so data
    skipping prunes files for predicates on either column — the
    multi-dimensional generalization of the reference's
    filename-time pruning (S10), and the standard layout trick for
    100 TB fact tables queried along more than one axis. The key
    itself is a pure map-side bit-interleave (one codegen'd
    projection, zero shuffles here; the layout write that consumes
    it pays one range exchange). The bit expression is generated
    from one Python source for both engines.

    Bucketing notes: 2^Z_BITS buckets per dimension keeps BOTH dims
    spanning their full bucket range (users and days both exceed 16
    at every SF) — a dim that only occupies low bits cedes every
    z-key split to the other dim and the interleave degenerates to a
    single-column sort. Modulo buckets serve point and short-range
    predicates (the bucket is computable from the predicate value);
    a production layout derives RANGE bucket boundaries from column
    stats instead so long-range scans prune too — the interleave and
    the write path are identical."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        (F.col("user_id") % (1 << Z_BITS)).alias("x_b"),
        (
            F.floor(F.unix_timestamp("ts") / 86400).cast("long") % (1 << Z_BITS)
        ).alias("y_b"),
    )
    return b.select(
        "event_id",
        F.col("x_b").cast("long").alias("x_b"),
        F.col("y_b").cast("long").alias("y_b"),
        F.expr(_z_terms("x_b", "y_b", spark_dialect=True)).cast("long").alias("z_key"),
    )


@register(
    "q21_waiting_suppliers_bucketed",
    tier="folded",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 over the BUCKETED lake: the storage-level answer to
    the one fact exchange the un-bucketed plan cannot avoid
    (plans/analytics.py:q21_waiting_suppliers, the round-5/6
    perf-weak entry — its scale audit pinned the residual vs DuckDB
    on exchange materialization). Both fact tables are bucketed on
    the order key at write time (bucketed_fact_tables), so here the
    (l_orderkey, l_suppkey) aggregate, the order-level stats, AND the
    orders join all consume the bucket layout directly — ZERO
    exchanges until the final few-hundred-row supplier rollup
    (plan-asserted in test_plan_shapes.py). This is the plan a
    warehouse actually runs when Q21-shaped queries are hot: the
    lineitem shuffle is paid once at ingest, not per query."""
    sup = load_table(spark, sf_dir, "supplier")
    orders, li = bucketed_fact_tables(spark, sf_dir)
    per_supp = (
        li.select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_returnflag") == "R").cast("int").alias("is_r"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum("is_r").alias("n_r_rows"))
    )
    returning = F.col("n_r_rows") > 0
    stats = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.sum(returning.cast("int")).alias("n_ret_supp"),
            F.max(F.when(returning, F.col("l_suppkey"))).alias("fault_supp"),
            F.sum(F.when(returning, F.col("n_r_rows"))).alias("fault_rows"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1))
    )
    orders_f = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return (
        stats.join(orders_f.hint("merge"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("fault_supp"))
        .groupBy("s_name")
        .agg(F.sum("fault_rows").alias("numwait"))
    )


@register(
    "q9_product_type_profit_bucketed",
    tier="folded",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum('l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity', 'sum_profit')}
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_product_type_profit_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 over the bucketed lake: the r5/r6 scale audits pinned
    q9's residual vs DuckDB on its one fact⋈fact edge (lineitem ⋈
    orders on the order key — plans/analytics.py q9 docstring). Both
    facts are bucketed on that key (bucketed_fact_tables), and the
    broadcast part/supplier joins PRESERVE the lineitem scan's
    bucket distribution, so the orders merge join needs no exchange
    on either side — the only exchange left is the few-hundred-row
    (nation, year) rollup. The merge join also pays no per-run Sort:
    the layout writer verified one file per bucket and enabled the
    sorted bucketed scan (bucketed_fact_tables, r10), so the
    write-time sortBy feeds the join directly on both sides
    (plan-asserted; 1.03 s -> 0.86 s at x100). Cost model identical
    to the un-bucketed entry (0.6 x retail price stands in for
    ps_supplycost)."""
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders, li = bucketed_fact_tables(spark, sf_dir)
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    pre = (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("%red%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "l_orderkey",
            "s_nationkey",
            F.floor(profit * 1000000).cast("long").alias("profit_scaled"),
        )
    )
    order_years = orders.select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    return (
        pre.join(order_years.hint("merge"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg((F.sum("profit_scaled").cast("double") / 1000000).alias("sum_profit"))
    )


CMS_D = 3  # count-min hash rows
CMS_W = 64  # buckets per row
CMS_TOP = 10  # heavy hitters reported

_SQL_CMS_BUCKET = (
    "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || '|' || CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % "
    + str(CMS_W)
)


def _cms_bucket(j: Column, key: Column) -> Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(j.cast("string"), F.lit("|"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % CMS_W
    )


@register(
    "events_heavy_hitters_cms",
    oracle=f"""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    top AS (
        SELECT user_id, n FROM counts ORDER BY n DESC, user_id LIMIT {CMS_TOP}
    ),
    counters AS (
        SELECT j.range AS j,
               {_SQL_CMS_BUCKET.format(j="j.range", key="user_id")} AS bucket,
               COUNT(*) AS c
        FROM events, range({CMS_D}) j
        GROUP BY 1, 2
    ),
    probes AS (
        SELECT user_id, n, j.range AS j,
               {_SQL_CMS_BUCKET.format(j="j.range", key="user_id")} AS bucket
        FROM top, range({CMS_D}) j
    )
    SELECT p.user_id,
           CAST(p.n AS BIGINT) AS exact_count,
           CAST(MIN(c.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.c) - p.n AS BIGINT) AS overcount
    FROM probes p
    JOIN counters c ON c.j = p.j AND c.bucket = p.bucket
    GROUP BY p.user_id, p.n
    """,
)
def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: per-key frequency estimates
    from a fixed {CMS_D} x {CMS_W} counter grid — the mergeable,
    constant-memory structure for "top users by volume" when the key
    space is too wide to count exactly (the frequency twin of the
    HLL entry's distinct counts). Every estimate is the MIN over
    {CMS_D} hashed counters and can only OVERcount (collisions add,
    never subtract) — the report emits the exact count next to the
    estimate and the overcount ≥ 0 for the true top-{CMS_TOP}, and
    the md5-derived hash rows make the sketch itself bit-identical
    in both engines, so the gate checks the ESTIMATES exactly, not
    just a tolerance. Scale: the counter build is one map-side x{CMS_D}
    expand + a {CMS_D * CMS_W}-cell aggregate (combines map-side;
    constant output regardless of input rows); counters broadcast to
    probe the heavy-hitter candidates. The exact-count side exists
    here for the audit; production keeps only the grid and merges
    grids across batches by cell-wise addition."""
    ev = load_table(spark, sf_dir, "events")
    js = F.explode(F.array(*[F.lit(j) for j in range(CMS_D)])).alias("j")
    expanded = ev.select("user_id").select("user_id", js)
    counters = (
        expanded.groupBy("j", _cms_bucket(F.col("j"), F.col("user_id")).alias("bucket"))
        .agg(F.count("*").alias("c"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(CMS_TOP)
    )
    probes = top.select(
        "user_id", "n", js
    ).select("user_id", "n", "j", _cms_bucket(F.col("j"), F.col("user_id")).alias("bucket"))
    return (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("user_id", "n")
        .agg(F.min("c").alias("est"))
        .select(
            "user_id",
            F.col("n").cast("long").alias("exact_count"),
            F.col("est").cast("long").alias("cms_estimate"),
            (F.col("est") - F.col("n")).cast("long").alias("overcount"),
        )
    )
