"""Relational queries: scans, joins, aggregations, set ops, windows.

Part of the driver-contract query registry — split out of the single
registry module in round 6 (same conventions; see
nrt_spark/queries.py for the registry contract and
nrt_spark/queries_base.py for the shared helpers)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: F401
from pyspark.sql import Window as W  # noqa: F401

from nrt_spark.dataops import dedup as D  # noqa: F401
from nrt_spark.dataops import simsearch as SS  # noqa: F401
from nrt_spark.dataops import textstats as TS  # noqa: F401
from nrt_spark.dataops.textstats import LANG_MARKERS  # noqa: F401
from nrt_spark.queries_base import (_CENTS_SQL, _NB, _ND, _NS,  # noqa: F401
                                    _cents_col, _null, _t, json_int_field,
                                    q, sub, REGISTRY, SUB_SQL)

# =========================================================================
# Relational: scans, joins, aggregations, set ops, windows
# =========================================================================

@q("pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                  AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0                                                  AS sum_base,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                                                                  AS sum_disc_e4,
       round(avg(l_quantity), 4)                                  AS avg_qty,
       count(*)                                                   AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def pricing_summary(spark, sf_dir):
    """TPC-H Q1-style scan+agg; filter pushes to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             # 2-decimal prices sum via exact cents (float-sum fold
             # order is partitioning-dependent); quantities are
             # integer-valued, so their float sum is already exact
             (F.sum(F.round(F.col("l_extendedprice") * 100)
                    .cast("long")) / 100.0).alias("sum_base"),
             F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")
                   * F.round((1 - F.col("l_discount")) * 100).cast("long"))
             .alias("sum_disc_e4"),
             F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
             F.count("*").alias("n"))
    )


@sub("top_revenue_orders", """
SELECT o_orderkey, o_orderpriority, revenue_e4
FROM (
  SELECT o.o_orderkey, o.o_orderpriority,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                  * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS revenue_e4
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority
) t
ORDER BY revenue_e4 DESC, o_orderkey
LIMIT 10
""")
def top_revenue_orders(spark, sf_dir):
    """Join + agg + deterministic top-k (TakeOrdered, no full sort).

    The aggregate runs BELOW the join: the group key IS the join key
    (o_orderkey, unique in orders, determines o_orderpriority), so
    lineitem pre-aggregates per l_orderkey before joining — Catalyst
    has no aggregate-through-join pushdown, and the manual form cuts
    the shuffle from every lineitem row (4x the orders, full width) to
    one compact row per order, with the map-side combine doing the 4:1
    locally (lines of an order are adjacent in the files).  Exact by
    construction: integer-cent revenue sums regroup associatively."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    li_rev = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")
                   * F.round((1 - F.col("l_discount")) * 100).cast("long"))
             .alias("revenue_e4"))
    )
    # the top-k runs AFTER the join, as in the SQL: an l_orderkey with
    # no row in orders must not take one of the ten places
    return (o.join(li_rev, o.o_orderkey == li_rev.l_orderkey)
            .orderBy(F.desc("revenue_e4"), F.asc("o_orderkey")).limit(10)
            .select("o_orderkey", "o_orderpriority", "revenue_e4"))


@sub("semi_join_orders", """
SELECT o_orderstatus, count(*) AS n
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderstatus
""")
def semi_join_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter("l_quantity > 45")
    return (o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
            .groupBy("o_orderstatus").agg(F.count("*").alias("n")))


@sub("anti_join_customers", """
SELECT c.c_mktsegment, count(*) AS n
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1998-01-01'
                  AND o.o_totalprice > 50000)
GROUP BY c.c_mktsegment
""")
def anti_join_customers(spark, sf_dir):
    """Customers with no recent large order (the filter keeps the result
    non-empty at every test sf — an all-customers anti-join is degenerate
    because every customer has at least one order)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1998-01-01")
        & (F.col("o_totalprice") > 50000))
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy("c_mktsegment").agg(F.count("*").alias("n")))


@sub("region_revenue", """
SELECT r.r_name AS region,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS revenue,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""")
def region_revenue(spark, sf_dir):
    """Star join.  nation/region are FIXED-size dims (25/5 rows at every
    SF) so their broadcast hints are safe; customer grows ~150k rows x SF,
    so it carries NO hint — a forced ``F.broadcast(customer)`` exceeds the
    broadcast/driver memory limit and CRASHES the job at a 100x scale-up,
    whereas hint-free AQE broadcasts it while small and falls back to a
    shuffled join once it outgrows autoBroadcastJoinThreshold
    (test_plan_shapes pins that the broadcast still arises hint-free at
    driver scale)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # pre-aggregate the fact per customer BELOW the star join (the
    # region group key is customer-determined): the join then handles
    # one row per customer instead of ~10 orders each, and the
    # integer-cent sums / counts regroup exactly
    o_agg = (o.groupBy("o_custkey")
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("long")).alias("_cents"),
                  F.count("*").alias("_n")))
    return (
        o_agg.join(c, o_agg.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg((F.sum("_cents") / 100.0).alias("revenue"),
             F.sum("_n").alias("n_orders"))
    )


@sub("setops_suppliers", """
WITH disc AS (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_discount > 0.06),
     bulk AS (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_quantity > 45)
SELECT 'union' AS op, l_suppkey FROM (SELECT * FROM disc UNION SELECT * FROM bulk)
UNION ALL
SELECT 'intersect' AS op, l_suppkey FROM (SELECT * FROM disc INTERSECT SELECT * FROM bulk)
UNION ALL
SELECT 'except' AS op, l_suppkey FROM (SELECT * FROM disc EXCEPT SELECT * FROM bulk)
""")
def setops_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc = li.filter("l_discount > 0.06").select("l_suppkey").distinct()
    bulk = li.filter("l_quantity > 45").select("l_suppkey").distinct()
    return (
        disc.union(bulk).distinct().select(F.lit("union").alias("op"), "l_suppkey")
        .unionAll(disc.intersect(bulk)
                  .select(F.lit("intersect").alias("op"), "l_suppkey"))
        .unionAll(disc.exceptAll(bulk).distinct()
                  .select(F.lit("except").alias("op"), "l_suppkey"))
    )


@sub("topk_orders", """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")
def topk_orders(spark, sf_dir):
    return (_t(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10)
            .select("o_orderkey", F.round("o_totalprice", 2).alias("price")))


@sub("rollup_pricing", """
SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def rollup_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count("*").alias("n"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                    "sum_qty", "n"))


@sub("distinct_parts_per_flag", """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag
""")
def distinct_parts_per_flag(spark, sf_dir):
    return (_t(spark, sf_dir, "lineitem").groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("n_parts"),
                 F.countDistinct("l_suppkey").alias("n_supps")))


@sub("window_rank_lineitems", """
SELECT l_orderkey, l_linenumber, rn FROM (
  SELECT l_orderkey, l_linenumber,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber) AS rn
  FROM lineitem WHERE l_orderkey % 20 = 0
) t WHERE rn <= 2
""")
def window_rank_lineitems(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter("l_orderkey % 20 = 0")
    w = W.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber"))
    return (li.withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
            .select("l_orderkey", "l_linenumber", "rn"))


@sub("json_extract_events", """
SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       count(*) AS n
FROM events GROUP BY event_type
""")
def json_extract_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("k", json_int_field("props", "k"))
            .groupBy("event_type")
            .agg(F.round(F.avg("k"), 4).alias("avg_k"),
                 F.count("*").alias("n")))


@q("asof_join_clicks", """
SELECT p.event_id, p.user_id,
       cc.event_id AS click_id, round(cc.value, 2) AS click_value,
       nc.event_id AS next_click_id,
       tc.event_id AS tol_click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN LATERAL (
  SELECT c.event_id, c.value
  FROM events c
  WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts
  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
) cc ON TRUE
LEFT JOIN LATERAL (
  SELECT c.event_id
  FROM events c
  WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts >= p.ts
  ORDER BY c.ts ASC, c.event_id ASC LIMIT 1
) nc ON TRUE
LEFT JOIN LATERAL (
  SELECT c.event_id
  FROM events c
  WHERE c.event_type = 'click' AND c.user_id = p.user_id
    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
) tc ON TRUE
""")
def asof_join_clicks(spark, sf_dir):
    """As-of join, all three practical flavours (pandas ``merge_asof``
    surface): for each purchase the user's latest click at-or-before it
    (backward, ties on ts broken by event_id), the earliest click
    at-or-after it (forward), and the backward match only when it falls
    within a 1-hour tolerance.

    Spark plan: union the two event streams with a type tag; backward +
    tolerance come from ONE ``last(click, ignoreNulls)`` window, the
    forward direction from a ``first`` window over the same partitioning
    (one extra in-partition sort, NO extra shuffle — the plan still has
    a single Exchange and zero joins).  The classic range join +
    max_by rewrite is O(purchases x clicks) per user and dies on a hot
    user at scale; this union+window form is the 100x-safe plan.
    """
    ev = _t(spark, sf_dir, "events")
    # kind 0 = click, 1 = purchase: a click at the same ts sorts before
    # the purchase, so "p.ts >= c.ts" inclusively matches it
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", "ts", F.lit(0).alias("kind"), "event_id",
        F.struct(F.col("event_id").alias("c_id"),
                 F.col("value").alias("c_value"),
                 F.col("ts").alias("c_ts")).alias("click"))
    purchases = ev.filter("event_type = 'purchase'").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id",
        F.lit(None).cast(
            "struct<c_id:long,c_value:double,c_ts:timestamp_ntz>")
        .alias("click"))
    wb = (W.partitionBy("user_id").orderBy("ts", "kind", "event_id")
          .rowsBetween(W.unboundedPreceding, 0))
    # forward: same-ts clicks must sort AFTER the purchase row, hence
    # the reversed kind ordering; same partitioning, so Catalyst plans
    # a second sort but no second Exchange
    wf = (W.partitionBy("user_id").orderBy("ts", F.desc("kind"),
                                           "event_id")
          .rowsBetween(0, W.unboundedFollowing))
    u = (clicks.unionByName(purchases)
         .withColumn("last_click", F.last("click", ignorenulls=True)
                     .over(wb))
         .withColumn("next_click", F.first("click", ignorenulls=True)
                     .over(wf)))
    # exact microsecond arithmetic — a seconds cast truncates and can
    # flip a boundary case vs the oracle's INTERVAL comparison
    within_tol = (F.unix_micros(F.col("ts").cast("timestamp"))
                  - F.unix_micros(F.col("last_click.c_ts")
                                  .cast("timestamp"))) <= 3_600_000_000
    return (u.filter("kind = 1")
            .select("event_id", "user_id",
                    F.col("last_click.c_id").alias("click_id"),
                    F.round("last_click.c_value", 2).alias("click_value"),
                    F.col("next_click.c_id").alias("next_click_id"),
                    F.when(within_tol, F.col("last_click.c_id"))
                    .alias("tol_click_id")))


@sub("supplier_part_revenue", """
SELECT s.s_name, n.n_name AS nation, p.p_brand,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_e4,
       count(*) AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size > 30
GROUP BY s.s_name, n.n_name, p.p_brand
""")
def supplier_part_revenue(spark, sf_dir):
    """Fact-to-two-dims star join over the remaining schema tables.
    supplier (~10k x SF rows) and part (~200k x SF rows) are
    SF-proportional, so they carry NO broadcast hint: a forced hint
    crashes (broadcast OOM) instead of degrading once either side
    outgrows memory at 100x.  AQE auto-broadcasts them while small;
    only fixed-size nation keeps the hint."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter("p_size > 30")
    # NO pre-aggregation below these joins (unlike top_revenue_orders /
    # region_revenue): the candidate key (l_suppkey, l_partkey) is
    # nearly unique per lineitem row, so an agg-below-join would
    # shuffle the same row count PLUS pay a 600M-row hash aggregate —
    # measured 142 -> 223 s at the sf100 probe.  The pre-agg rewrite
    # only pays when the fact:group-key ratio is high.
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("s_name", F.col("n_name").alias("nation"), "p_brand")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")
                   * F.round((1 - F.col("l_discount")) * 100).cast("long"))
             .alias("revenue_e4"),
             F.count("*").alias("n_lines"))
    )


@sub("orders_above_cust_avg", """
SELECT o.o_orderkey, round(o.o_totalprice, 2) AS price
FROM orders o
WHERE o.o_totalprice > 1.8 * (
  SELECT CAST(sum(CAST(round(o2.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         / (100.0 * count(*))
  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
""")
def orders_above_cust_avg(spark, sf_dir):
    """Correlated scalar subquery (Catalyst decorrelates it into an
    aggregate + join — same rewrite a warehouse would do by hand).
    The per-customer average goes through exact cents: the filter
    compares prices AGAINST the average, so a 1-ulp fold-order drift
    could flip rows sitting exactly on the 1.8x threshold."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_q")
    return spark.sql("""
      SELECT o.o_orderkey, round(o.o_totalprice, 2) AS price
      FROM orders_q o
      WHERE o.o_totalprice > 1.8 * (
        SELECT CAST(sum(CAST(round(o2.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) / (100.0 * count(*))
        FROM orders_q o2 WHERE o2.o_custkey = o.o_custkey)
    """)


@sub("pivot_status_qty", """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
""")
def pivot_status_qty(spark, sf_dir):
    """Pivot on linestatus (Spark's pivot operator; the oracle uses the
    equivalent conditional aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    piv = (li.groupBy("l_returnflag")
           .pivot("l_linestatus", ["O", "F"])
           .agg(F.round(F.sum("l_quantity"), 2)))
    cnt = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    return (piv.withColumnRenamed("O", "qty_O")
            .withColumnRenamed("F", "qty_F")
            .join(cnt, "l_returnflag"))


