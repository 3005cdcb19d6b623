"""Extended analytics coverage: subquery shapes, multidimensional
aggregation, set operations, richer window functions, pivot, and the
scalar-function families (SURVEY §2.5-§2.7 plus beyond-reference
OLAP surface).

Determinism rules as everywhere in this engine: double aggregation
goes through scaled-long fixed-point (plans/common.py), window frames
aggregate longs (frame-order float addition differs between engines'
running-sum vs segment-tree strategies), and every window order ends
in a unique tiebreak column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from . import register
from .common import SCALE, davg, dsum, prefer_broadcast, sql_dsum


@register(
    "q2_cheapest_supplier_per_part",
    oracle="""
    SELECT p_partkey, p_name, s_name, l_extendedprice AS best_price
    FROM part
    JOIN lineitem ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_size <= 5
      AND l_extendedprice = (
          SELECT MIN(l2.l_extendedprice) FROM lineitem l2
          WHERE l2.l_partkey = p_partkey
      )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY s_name, l_extendedprice) = 1
    """,
)
def q2_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q2 shape, the reference's J5
    update-join family): cheapest supplier per small part. The
    DataFrame form computes the per-part MIN once as an aggregate and
    joins it back — what a decorrelating optimizer does to the
    subquery. Scale: the min-aggregate shrinks lineitem to one row
    per part before any join; part/supplier scale with SF so their
    join strategy comes from size stats, not forced hints."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    mins = li.groupBy("l_partkey").agg(F.min("l_extendedprice").alias("best_price"))
    w = Window.partitionBy("p_partkey").orderBy("s_name", "l_extendedprice")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(mins.withColumnRenamed("l_partkey", "mk"), F.col("p_partkey") == F.col("mk"))
        .filter(F.col("l_extendedprice") == F.col("best_price"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_name", "best_price")
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.00
             * (CAST(SUM(CAST(FLOOR(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0 END * {SCALE}) AS BIGINT)) AS DOUBLE) / {SCALE})
             / (CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * {SCALE}) AS BIGINT)) AS DOUBLE) / {SCALE})
             AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation over a fact-dimension join (TPC-H Q14).
    Scale: the month filter pushes into the parquet scan; part
    broadcasts; the whole query is one map-side-combined global agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    scaled = lambda c: F.sum(F.floor(c * SCALE).cast("long")).cast("double") / SCALE  # noqa: E731
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (F.lit(100.0) * scaled(promo) / scaled(disc)).alias("promo_revenue_pct"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q19_bracketed_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 40)
    """,
)
def q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-bracket predicate over a join (TPC-H Q19
    shape). Scale: the OR-of-ANDs stays a single codegen'd predicate
    after the broadcast join — no union-of-scans blowup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "rollup_revenue_by_nation_segment",
    oracle=f"""
    SELECT COALESCE(n_name, '<all>') AS n_name,
           COALESCE(c_mktsegment, '<all>') AS c_mktsegment,
           {sql_dsum('o_totalprice', 'revenue')},
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
)
def rollup_revenue_by_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multidimensional ROLLUP aggregate (beyond-reference OLAP
    surface; Spark plans it as a single expand+hash-agg). Scale: the
    expand multiplies rows by grouping-set count before the shuffle —
    fine at 3 sets; cube on high-cardinality keys would instead use
    grouping-set pruning."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("n_name", "c_mktsegment")
        .agg(dsum("o_totalprice", "revenue"), F.count("*").alias("n_orders"))
        .select(
            F.coalesce("n_name", F.lit("<all>")).alias("n_name"),
            F.coalesce("c_mktsegment", F.lit("<all>")).alias("c_mktsegment"),
            "revenue",
            "n_orders",
        )
    )


@register(
    "segments_intersect_except",
    oracle="""
    SELECT c_nationkey, 'both' AS membership FROM (
        SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    ) b
    UNION ALL
    SELECT c_nationkey, 'building_only' AS membership FROM (
        SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    ) o
    """,
)
def segments_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations (SURVEY §2.6 — implicit in
    the reference, explicit here). Scale: both plan as hash
    semi/anti joins on the distinct key sets."""
    cust = load_table(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey").distinct()
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey").distinct()
    both = building.intersect(machinery).select(
        "c_nationkey", F.lit("both").alias("membership")
    )
    only = building.exceptAll(machinery).select(
        "c_nationkey", F.lit("building_only").alias("membership")
    )
    return both.unionByName(only)


@register(
    "events_moving_avg_7",
    oracle=f"""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(SUM(CAST(FLOOR(value * {SCALE}) AS BIGINT)) OVER w AS DOUBLE) / {SCALE}.0
               / COUNT(value) OVER w AS moving_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def events_moving_avg_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average per key. The frame aggregates scaled
    longs: engines disagree on float addition order inside window
    frames (running sum vs segment tree), integers are order-free.
    Scale: one shuffle on user_id; the bounded frame streams."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    mavg = (
        F.sum(F.floor(F.col("value") * SCALE).cast("long")).over(w).cast("double")
        / SCALE
        / F.count("value").over(w)
    )
    return ev.select("event_id", "user_id", "ts", mavg.alias("moving_avg"))


@register(
    "events_lag_lead_delta",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           value - lag(value) OVER w AS delta_prev,
           lead(value) OVER w - value AS delta_next,
           CAST(date_diff('second', lag(CAST(ts AS TIMESTAMP)) OVER w, CAST(ts AS TIMESTAMP)) AS BIGINT) AS gap_seconds
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas + inter-event gaps (per-row float subtraction
    is order-free, so raw doubles are safe here). Scale: single
    shuffle, both window functions share one frame pass."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        (F.lead("value").over(w) - F.col("value")).alias("delta_next"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap_seconds"),
    )


@register(
    "events_sessionize_batch",
    oracle="""
    WITH ordered AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    tagged AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq
        FROM ordered
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM tagged GROUP BY user_id, session_seq
    """,
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, batch form (oracle-checked twin of
    stream_sessionize_state): lag to flag gaps > 30 min, running sum
    to number sessions, groupBy to collapse. Scale: the window and
    the aggregate share one user_id shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    # microsecond-exact gap: ts.cast('long') truncates to whole
    # seconds and would merge a 1800.2s gap the oracle's exact
    # INTERVAL comparison splits
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    tagged = ev.select(
        "user_id",
        "ts",
        F.sum(F.when(gap > 30 * 60 * 1_000_000, 1).otherwise(0)).over(wrun).alias(
            "session_seq"
        ),
    )
    return tagged.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_rank_quartiles",
    oracle="""
    SELECT user_id,
           CAST(RANK() OVER (ORDER BY total DESC, user_id) AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER (ORDER BY n_events DESC) AS BIGINT) AS dense_rnk,
           CAST(NTILE(4) OVER (ORDER BY total DESC, user_id) AS BIGINT) AS quartile,
           n_events
    FROM (
        SELECT user_id,
               CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    ) s
    """,
)
def events_rank_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over per-user totals. Scale: ranking
    runs on the aggregated frame (one row per user), so the single-
    partition window is bounded by user cardinality, not events."""
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * SCALE).cast("long")).alias("total"),
        F.count("*").alias("n_events"),
    )
    w_rank = Window.orderBy(F.desc("total"), F.asc("user_id"))
    w_dense = Window.orderBy(F.desc("n_events"))
    return totals.select(
        "user_id",
        F.rank().over(w_rank).cast("long").alias("rnk"),
        F.dense_rank().over(w_dense).cast("long").alias("dense_rnk"),
        F.ntile(4).over(w_rank).cast("long").alias("quartile"),
        "n_events",
    )


@register(
    "orders_pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS status_F,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS status_O,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
)
def orders_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide counts). Scale: pivot with an explicit
    value list is one hash aggregate — no second pass to discover
    pivot values."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
        .select(
            "o_orderpriority",
            F.col("F").alias("status_F"),
            F.col("O").alias("status_O"),
            F.col("P").alias("status_P"),
        )
    )


@register(
    "part_string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           string_split(p_name, ' ')[1] AS first_word,
           CAST(length(p_name) AS BIGINT) AS name_len,
           regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_devoweled,
           concat(p_brand, '/', p_type) AS brand_type,
           CAST(CAST(substr(p_brand, 7) AS BIGINT) AS BIGINT) AS brand_num,
           CASE WHEN p_name LIKE '%red%' THEN TRUE ELSE FALSE END AS is_red
    FROM part
    """,
)
def part_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family (SURVEY §2 F9): split/substr/regexp/
    concat/like — all codegen'd JVM expressions, no UDFs. Scale:
    pure map-side."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_replace(F.col("p_type"), "[AEIOU]", "_").alias("type_devoweled"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.substring(F.col("p_brand"), 7, 100).cast("long").alias("brand_num"),
        F.col("p_name").like("%red%").alias("is_red"),
    )


@register(
    "orders_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           CAST(o_orderdate AS TIMESTAMP) + INTERVAL 3 HOUR AS plus_3h,
           CAST(o_orderdate AS TIMESTAMP) + INTERVAL 7 DAY AS plus_1w,
           CAST(o_orderdate AS TIMESTAMP) - INTERVAL 1 DAY AS minus_1d,
           CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS TIMESTAMP) AS month_start,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(EXTRACT(dow FROM o_orderdate) AS BIGINT) AS day_of_week,
           strftime(o_orderdate, '%Y-%m-%d') AS date_text
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def orders_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-arithmetic family (SURVEY §2 F6/F7): the +3h grid step,
    +1 week horizon, -1 day widening intervals, truncation,
    extraction, and RFC-style formatting. Scale: map-side."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return orders.select(
        "o_orderkey",
        "o_orderdate",
        (F.col("o_orderdate") + F.expr("interval 3 hours")).alias("plus_3h"),
        (F.col("o_orderdate") + F.expr("interval 7 days")).alias("plus_1w"),
        (F.col("o_orderdate") - F.expr("interval 1 day")).alias("minus_1d"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("day_of_week"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_text"),
    )


@register(
    "events_value_percentiles",
    tier="folded",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.9) AS p90,
           quantile_disc(value, 0.99) AS p99,
           MIN(value) AS v_min, MAX(value) AS v_max
    FROM events GROUP BY event_type
    """,
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles per group (percentile_disc picks an
    actual data value — no interpolation arithmetic to diverge
    between engines). Scale: exact percentiles sort within groups; at
    100 TB swap in approx_percentile (t-digest sketch) and keep this
    as the calibration path — same pattern as exact vs LSH dedup.
    Folded at r13 (driver-window slot freed for the r13 promotions):
    the registered sketch twin events_percentiles_approx_sketch is
    the 100 TB default per the trade this docstring describes; this
    exact calibration path stays gate-resolvable by name and
    plan-shape-swept (tier "folded")."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("p99"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )


@register(
    "q4_order_priority_check",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-filtered aggregate (TPC-H Q4 shape): orders with at
    least one returned line, counted by priority. Scale: the semi join keeps the
    orders side un-duplicated regardless of how many lines match;
    the date filter prunes the orders scan first."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    late = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_linestatus_priority_split",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
               AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
               AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_tax < l_discount
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q12_linestatus_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-split counts over a join (TPC-H Q12 shape, with a
    column-to-column inequality predicate). Scale: the date range
    pushes to the lineitem scan; the tax<discount comparison stays a
    codegen'd row predicate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_tax") < F.col("l_discount"))
    )
    orders = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q18_large_volume_customers",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_totalprice,
           CAST(SUM(CAST(FLOOR(l_quantity * {SCALE}) AS BIGINT)) AS DOUBLE) / {SCALE}.0 AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(l_quantity) > 250
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING on an aggregate over a 3-way join (TPC-H Q18 shape).
    Scale: the quantity aggregate runs on (orderkey) grain with
    map-side combine before the HAVING filter discards small orders;
    customer (SF-scaling) attaches by whatever strategy size stats
    pick after the reduction."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("raw_qty"),
            (F.sum(F.floor(F.col("l_quantity") * SCALE).cast("long")).cast("double") / SCALE)
            .alias("total_qty"),
        )
        .filter(F.col("raw_qty") > 250)
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "cube_orders_priority_status",
    oracle="""
    SELECT COALESCE(o_orderpriority, '<all>') AS o_orderpriority,
           COALESCE(o_orderstatus, '<all>') AS o_orderstatus,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT)
               AS grouping_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_orders_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING_ID: all 2^2 grouping sets in one pass plus
    the bitmask distinguishing a real NULL from a subtotal row — the
    remaining multidimensional-aggregate surface next to ROLLUP.
    Scale: expand factor 4 before one map-side-combined shuffle; for
    high-cardinality cube keys you'd prune grouping sets instead."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("long").alias("grouping_id"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("o_orderstatus"),
            "grouping_id",
            "n_orders",
        )
    )


@register(
    "q6_forecast_revenue_delta",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue_delta')},
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-07-01' AND l_shipdate < DATE '1996-07-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure SARG benchmark — three range
    predicates and one arithmetic aggregate, no join. Scale: every
    predicate pushes to the parquet scan (row-group min/max pruning
    on l_shipdate/l_discount/l_quantity), then a single map-side
    partial sum; the shuffle carries one row per task."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-07-01")
            & (F.col("l_shipdate") < "1996-07-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q10_returned_items_customers",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1995-10-01' AND o_orderdate < DATE '1996-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in
    a quarter. Scale: both time and returnflag predicates push to the
    fact scans before the joins; nation broadcasts; the final top-20
    is TakeOrderedAndProject over the grouped frame, not a global
    sort."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(
            (F.col("o_orderdate") >= "1995-10-01")
            & (F.col("o_orderdate") < "1996-01-01")
            & (F.col("l_returnflag") == "R")
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q22_global_sales_opportunity",
    oracle=f"""
    WITH avg_bal AS (
        SELECT {sql_dsum('c_acctbal', 'total')}, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer
        WHERE c_acctbal > 0.00 AND c_nationkey % 10 IN (1, 3, 7, 9)
    )
    SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_dsum('c_acctbal', 'totacctbal')}
    FROM customer, avg_bal
    WHERE c_nationkey % 10 IN (1, 3, 7, 9)
      AND c_acctbal > avg_bal.total / avg_bal.n
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= DATE '2001-01-01')
    GROUP BY cntrycode
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (average positive
    balance over selected country codes; the anti-join excludes
    customers with RECENT orders since every synthetic customer
    has some order — the synthetic customer
    table has no c_phone, so nationkey % 10 stands in for the phone
    prefix) + anti-join against orders + derived-key grouping. Scale:
    the scalar aggregate broadcasts as a single row; the anti-join is
    a broadcast/shuffled left_anti on o_custkey, never a correlated
    per-row probe. The average divides exact scaled-long totals so
    both engines compare against the identical threshold double."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    codes = [1, 3, 7, 9]
    in_codes = cust.filter((F.col("c_nationkey") % 10).isin(codes))
    avg_bal = in_codes.filter(F.col("c_acctbal") > 0.0).agg(
        dsum("c_acctbal", "total"), F.count("*").alias("n")
    )
    return (
        in_codes.join(
            orders.filter(F.col("o_orderdate") >= "2001-01-01"),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("total") / F.col("n"))
        .groupBy((F.col("c_nationkey") % 10).cast("long").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume', 'revenue')}
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1997-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
    year — the double-role dimension join (nation aliased twice, once
    per side of the trade). Scale: the pair predicate filters through
    the two broadcast nation dims BEFORE the fact-fact shuffle, so
    only the two nations' suppliers/customers reach the big joins;
    the ship-date range pushes to the lineitem scan."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        sup.join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            pair
            & (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ps_supplycost stand-in: the synthetic schema has no partsupp table,
# so unit cost is modeled as a fixed fraction of the part list price.
COST_FRACTION = 0.6


@register(
    "q9_product_type_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum(f'l_extendedprice * (1 - l_discount) - {COST_FRACTION} * p_retailprice * l_quantity', 'sum_profit')}
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product family by supplier nation
    and order year (cost = {COST_FRACTION} x list price standing in
    for ps_supplycost — no partsupp in the synthetic schema). Scale:
    the p_name filter reduces part BEFORE its join so the selective
    dimension probes map-side; nation broadcasts; profit sums via
    scaled-long fixed point.

    The orders edge is the one fact-join-fact in the plan and it
    joins by SIZE-ADAPTIVE strategy (common.prefer_broadcast): the
    r5 scale audit (BENCH_SCALE x20 profile)
    found the session's 64 MB dim-broadcast threshold was letting
    the (o_orderkey, o_year) projection of 3M orders broadcast, and
    the driver-side single-threaded hash build of that relation was
    the whole regression: 1.92 s broadcast vs 0.93-1.00 s shuffled
    at x20, worsening with scale — while at sf0.1 (150k orders) the
    broadcast build is trivially cheap and the shuffle's fixed cost
    dominates instead (0.82 s vs 1.07 s). So the plan broadcasts
    only when the measured on-disk footprint is provably dim-sized
    and otherwise pins shuffle_hash — build side = the smaller
    projected orders side, which beats sort-merge at scale because
    it never sorts the 4x-larger lineitem side. Before that shuffle
    the lineitem side is projected down to (l_orderkey, s_nationkey,
    scaled-profit long) — 3 longs/row instead of 5 doubles — which
    is what the exchange ships on a real cluster.

    Lake-layout routing (r7, opt-in-only since r8): when the session
    declares the bucketed warehouse profile (SPARK_GRAFT_BUCKETED=1,
    scale.bucketed_lake_available), the orders fact-join-fact edge is
    answered from the bucketed copies with no fact exchange at all
    (q9_product_type_profit_bucketed) — same results, the physical
    plan a warehouse runs for a hot join key."""
    from .scale import bucketed_lake_available, q9_product_type_profit_bucketed

    if bucketed_lake_available(spark, sf_dir):
        return q9_product_type_profit_bucketed(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        COST_FRACTION
    ) * F.col("p_retailprice") * F.col("l_quantity")
    order_years = orders.select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    pre = (
        li.join(part.filter(F.col("p_name").like("%red%")), F.col("p_partkey") == F.col("l_partkey"))
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "l_orderkey",
            "s_nationkey",
            F.floor(profit * SCALE).cast("long").alias("profit_scaled"),
        )
    )
    if prefer_broadcast(sf_dir, "orders"):
        order_years = F.broadcast(order_years)
    else:
        order_years = order_years.hint("shuffle_hash")
    return (
        pre.join(order_years, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg((F.sum("profit_scaled").cast("double") / SCALE).alias("sum_profit"))
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the histogram of orders-per-customer INCLUDING
    zero-order customers — the left join with a join-side (not WHERE)
    predicate, so unmatched customers survive with count 0. Scale:
    the priority filter is applied to orders before the shuffle; the
    outer aggregate's key space is tiny (max orders per customer)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q16_supplier_part_relationships",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'ECONOMY%'
      AND p_size IN (1, 2, 3, 4, 5, 6, 7, 8)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    triple, excluding blacklisted suppliers (negative balance standing
    in for the complaints LIKE — lineitem stands in for partsupp).
    Scale: the NOT IN over a not-null key compiles to a broadcast
    left_anti join, not a per-row probe; COUNT(DISTINCT) expands then
    two-phase aggregates; part filters reach the part scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    bad = sup.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(
            part.filter(
                (F.col("p_brand") != "Brand#1")
                & (~F.col("p_type").like("ECONOMY%"))
                & (F.col("p_size").isin(list(range(1, 9))))
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH part_avg AS (
        SELECT l_partkey AS a_partkey,
               0.2 * ((CAST(SUM(CAST(FLOOR(l_quantity * {SCALE}) AS BIGINT)) AS DOUBLE)
                       / {SCALE}.0) / COUNT(l_quantity)) AS qty_threshold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT {sql_dsum('l_extendedprice', 'total_small_qty_price')} ,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < qty_threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lines whose quantity is under 20% of their
    part's average — the correlated scalar-average subquery,
    decorrelated into one per-part aggregate joined back to the fact
    (exactly what Catalyst/DuckDB do to the correlated form; writing
    it decorrelated makes the identical plan explicit in both
    engines). The average divides an exact scaled-long sum so both
    engines compare against the same threshold double. Scale: one
    groupBy + one equi-join, both on l_partkey, so the exchange is
    reused across the two consumers of the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    part_avg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.lit(0.2) * davg("l_quantity", "qty_avg")).alias("qty_threshold")
    )
    return (
        li.join(part.filter(F.col("p_brand") == "Brand#3"), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("a_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            dsum("l_extendedprice", "total_small_qty_price"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q20_excess_stock_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
        )
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(FLOOR(l_quantity * 1000000) AS BIGINT)) > 60 * 1000000
    )
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved >60 units of any
    'small%' part — nested IN subqueries (part-name filter inside a
    grouped HAVING inside a semi-join). Scale: both INs compile to
    semi-joins, never row-probes; the inner aggregate groups on the
    (suppkey, partkey) pair it just joined on; quantity compares in
    exact scaled-long space."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    small_parts = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    movers = (
        li.join(small_parts, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.floor(F.col("l_quantity") * SCALE).cast("long")).alias("sq"))
        .filter(F.col("sq") > 60 * SCALE)
        .select("l_suppkey")
    )
    return (
        sup.join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "q21_waiting_suppliers",
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
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole at-fault supplier on finalized
    multi-supplier orders (returnflag 'R' standing in for the missing
    receipt/commit dates) — the EXISTS + NOT-EXISTS double anti-join
    pattern. Scale: ONE scan of lineitem and ONE exchange of it. The
    scan is explicitly repartitioned by l_orderkey; hash partitioning
    on a PREFIX of the group keys satisfies the (l_orderkey,
    l_suppkey) aggregate's clustering requirement, and its output
    partitioning then satisfies the second, order-level aggregate
    too — so the per-supplier rollup (count of that supplier's 'R'
    rows) and the order-level stats (n_supp for EXISTS, exactly-one
    returning supplier for NOT EXISTS, the at-fault supplier's key
    and its R-row count for the final COUNT(*)) chain inside one
    whole-stage-codegen span with NO second exchange and NO sort —
    the r4/r5 window formulation forced a repartition + per-partition
    sort between the two levels. Orders joins size-adaptively
    (common.prefer_broadcast): it is a fact table, and the r6 q9
    profile (GATE_LOG.md) measured the driver-side broadcast build
    of a multi-million-row relation as the dominant, scale-growing
    cost — so it broadcasts only when its measured footprint is
    dim-sized and otherwise joins shuffle_hash, where the stats side
    keeps its l_orderkey partitioning so only orders moves. Supplier
    (a dim) broadcasts. A/B at x20 replicas,
    same-JVM best-of-3: window form 1.48-1.79 s, this form
    1.50 s with the sort and one exchange gone (1.34 s once the
    returnflag ships as a pre-projected int instead of a string);
    r5's form measured 2.27-2.32 s.

    Scale curve vs DuckDB on identical files (BENCH_SCALE): x5 5.5x,
    x20 2.7x, x50 2.38x, x100 ~2.7-3.1x — Spark linear in data from
    x20 on, DuckDB sub-linear on replicated islands, so the ratio
    bottoms out near 2.5x. Residual audited at x100: runtime bloom
    filters (on by default in Spark 4) don't fire profitably here,
    wider/narrower shuffle widths measure within noise, and the plan
    has exactly one fact exchange, no sort, no broadcast of a fact —
    the remaining gap is exchange materialization vs DuckDB's
    pipelined shared-memory hash ops, an architecture constant on a
    single box that a 1000-executor cluster trades for scale-out.

    Lake-layout routing (r7, opt-in-only since r8): when the session
    declares the bucketed warehouse profile (SPARK_GRAFT_BUCKETED=1,
    scale.bucketed_lake_available), the
    order-key fact join is answered from the bucketed copies with
    ZERO fact exchanges (q21_waiting_suppliers_bucketed, 1.49-1.80x
    DuckDB at x20-x100 vs 2.7-3.1x here) — same results, different
    physical plan, exactly what a warehouse does when a hot join key
    has a clustered layout."""
    from .scale import bucketed_lake_available, q21_waiting_suppliers_bucketed

    if bucketed_lake_available(spark, sf_dir):
        return q21_waiting_suppliers_bucketed(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    per_supp = (
        li.select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_returnflag") == "R").cast("int").alias("is_r"),
        )
        .repartition("l_orderkey")
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
    if prefer_broadcast(sf_dir, "orders"):
        orders_f = F.broadcast(orders_f)
    else:
        orders_f = orders_f.hint("shuffle_hash")
    return (
        stats.join(
            orders_f,
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("fault_supp"))
        .groupBy("s_name")
        .agg(F.sum("fault_rows").alias("numwait"))
    )


@register(
    "events_grouping_sets_marginals",
    oracle=f"""
    SELECT COALESCE(event_type, '<all>') AS event_type,
           COALESCE(m, '<all>') AS m,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM (
        SELECT event_type, strftime(ts, '%Y-%m') AS m, value FROM events
    ) e
    GROUP BY GROUPING SETS ((event_type), (m))
    """,
)
def events_grouping_sets_marginals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind ROLLUP/CUBE,
    both covered elsewhere): independent per-type and per-month
    marginals in ONE pass over events — a set combination neither
    rollup nor cube expresses. Scale: Spark plans it as a single
    Expand(x2) + one map-side-combined hash aggregate, i.e. one scan
    and one shuffle instead of the two scans a UNION ALL of groupBys
    would pay."""
    ev = load_table(spark, sf_dir, "events")
    prepped = ev.select(
        "event_type",
        F.date_format("ts", "yyyy-MM").alias("m"),
        "value",
    )
    return (
        prepped.groupingSets([["event_type"], ["m"]], "event_type", "m")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("m", F.lit("<all>")).alias("m"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q8_national_market_share",
    oracle=f"""
    WITH all_lines AS (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        JOIN part     ON p_partkey = l_partkey
        WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           (CAST(SUM(CAST(FLOOR(CASE WHEN supp_nation = 'NATION_6'
                      THEN volume ELSE 0 END * {SCALE}) AS BIGINT)) AS DOUBLE) / {SCALE}.0)
             / NULLIF(CAST(SUM(CAST(FLOOR(volume * {SCALE}) AS BIGINT)) AS DOUBLE) / {SCALE}.0, 0)
             AS mkt_share,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM all_lines
    GROUP BY o_year
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market for a
    part family, per order year (reference family: the scoring joins
    J6 / multi-dim rollups A1 re-expressed over the TPC-H lake). The
    market filter lives on the CUSTOMER side (region of sale) while
    the share numerator keys on the SUPPLIER side's nation — the two
    nation joins with distinct roles are the point of the shape.
    Scale: part (filtered to one type) and all dim tables broadcast;
    the only fact-fact edge is lineitem⋈orders, which shuffles on
    orderkey with both sides pre-projected to join key + 2 columns;
    the share divides two scaled-long sums in ONE aggregate pass
    (conditional numerator), not two query branches."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")

    amer_keys = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("amer_nationkey"))
    )
    cust_amer = cust.join(
        F.broadcast(amer_keys), F.col("c_nationkey") == F.col("amer_nationkey")
    ).select("c_custkey")
    orders_amer = (
        orders.join(cust_amer.hint("broadcast") if prefer_broadcast(sf_dir, "customer") else cust_amer,
                    F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    )
    supp_nation = sup.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))

    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pre = (
        li.join(F.broadcast(part.filter(F.col("p_type") == "PROMO")),
                F.col("p_partkey") == F.col("l_partkey"))
        .join(supp_nation.hint("broadcast") if prefer_broadcast(sf_dir, "supplier") else supp_nation,
              F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "l_orderkey",
            "supp_nation",
            F.floor(volume * SCALE).cast("long").alias("vol_scaled"),
        )
    )
    joined = pre.join(
        orders_amer.hint("shuffle_hash") if not prefer_broadcast(sf_dir, "orders") else F.broadcast(orders_amer),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    share_vol = F.when(F.col("supp_nation") == "NATION_6", F.col("vol_scaled")).otherwise(F.lit(0))
    return joined.groupBy("o_year").agg(
        (
            (F.sum(share_vol).cast("double") / SCALE)
            / F.nullif(F.sum("vol_scaled").cast("double") / SCALE, F.lit(0.0))
        ).alias("mkt_share"),
        F.count("*").alias("n_lines"),
    )


@register(
    "q11_important_stock_value",
    oracle=f"""
    WITH supply_value AS (
        SELECT l_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * {SCALE}) AS BIGINT)) AS BIGINT) AS v_scaled
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_9'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey,
           CAST(v_scaled AS DOUBLE) / {SCALE}.0 AS part_value
    FROM supply_value
    WHERE CAST(v_scaled AS DOUBLE)
          > 2.0 * (SELECT CAST(SUM(CAST(v_scaled AS HUGEINT)) AS DOUBLE) / COUNT(*)
                   FROM supply_value)
    """,
)
def q11_important_stock_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose one-nation supply value exceeds a
    threshold derived from that nation's TOTAL supply — the
    uncorrelated scalar-aggregate subquery in the HAVING position
    (reference family: ref crates/oracle SQL-builder's guarded
    ad-hoc aggregates). No partsupp in the synthetic schema, so
    supply value derives from lineitem revenue (same grain: per
    (part, supplier-nation)). TPC-H scales its fraction as 0.0001/SF
    to keep the result selective; the SF-free equivalent used here is
    2x the MEAN per-part value (~8% of parts at every tested SF).
    Scale: the per-part aggregate shuffles once on l_partkey; the
    mean re-aggregates THAT result (one row per part), not the fact,
    and rides back in as a broadcast scalar — the fact table is
    scanned exactly once. The comparison divides an exact 128-bit
    sum of scaled longs by an exact count, so both engines compare
    identical doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    german = sup.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_9")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = (
        li.join(
            german.hint("broadcast") if prefer_broadcast(sf_dir, "supplier") else german,
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(F.floor(rev * SCALE).cast("long")).alias("v_scaled"))
    )
    mean = per_part.agg(
        (
            F.sum(F.col("v_scaled").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_scaled")
    )
    return (
        per_part.crossJoin(F.broadcast(mean))
        .filter(F.col("v_scaled").cast("double") > F.lit(2.0) * F.col("mean_scaled"))
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("v_scaled").cast("double") / SCALE).alias("part_value"),
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * {SCALE}) AS BIGINT)) AS BIGINT) AS r_scaled
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(r_scaled AS DOUBLE) / {SCALE}.0 AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE r_scaled = (SELECT MAX(r_scaled) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the quarter's maximum
    revenue — the view-then-scalar-max-on-the-view pattern (W6 family
    but equality-with-max rather than LIMIT, so ties survive, which
    ORDER BY/LIMIT 1 would drop). Scale: the quarter filter pushes to
    the lineitem scan; revenue aggregates once per supplier; the MAX
    re-aggregates the per-supplier result and broadcasts back as one
    row — supplier only joins the (few) max rows. Comparison is on
    exact scaled longs, so cross-engine ties are bit-identical."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    sup = load_table(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.floor(rev * SCALE).cast("long")).alias("r_scaled")
    )
    max_rev = revenue.agg(F.max("r_scaled").alias("max_scaled"))
    top = (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("r_scaled") == F.col("max_scaled"))
    )
    return (
        F.broadcast(sup).join(top, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("r_scaled").cast("double") / SCALE).alias("total_revenue"),
        )
    )


@register(
    "events_window_function_suite",
    oracle="""
    SELECT event_id, event_type,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value NULLS LAST, event_id)
    """,
)
def events_window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete ranking-window surface in one pass: row_number,
    rank, dense_rank, percent_rank, cume_dist, and ntile over a
    single shared frame — SQL-standard semantics in both engines
    (percent_rank = (rank-1)/(n-1), cume_dist = rows<=current / n,
    both exact integer divisions in double). Scale: ONE exchange on
    the partition key serves all six functions (they share the
    window spec, so Spark evaluates them in a single Window
    operator); the order ends in the unique event_id so ranks are
    partitioning-independent."""
    ev = load_table(spark, sf_dir, "events")
    # NULLS LAST on both sides: Spark ASC defaults to NULLS FIRST,
    # DuckDB to NULLS LAST — pinned explicitly so the entry survives
    # null values appearing in the column (r6 ADVICE).
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    return ev.select(
        "event_id",
        "event_type",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )
