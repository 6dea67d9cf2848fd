"""Relational operator battery: joins, aggregates, windows, set ops,
keep-first dedup (SURVEY.md §2b X1, X6-X9).

The join battery deliberately covers the join types the reference never
uses (inner / semi / anti / range-theta) so the engine demonstrably owns
the full relational surface; the window battery is the scaled-out form
of the reference's "first-occurrence" semantics (SURVEY.md §2a A2,
A5-A8 are windows in disguise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.queries import QueryDef, load, table_rowcount

# ---------------------------------------------------------------------------
# X6 — join battery
# ---------------------------------------------------------------------------


def join_inner_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact→dim with projection + filter pushdown."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "AUTOMOBILE")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


JOIN_INNER_SQL = """
SELECT o_orderkey, c_custkey, c_name, o_totalprice, o_orderstatus
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'AUTOMOBILE' AND o_totalprice > 100000
ORDER BY o_orderkey
"""


def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having ≥1 high-priority order (EXISTS)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no orders at all (NOT EXISTS)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def join_range_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range-theta join: lineitems shipped 60-90 days after their
    order date — per-order counts. The range predicate rides on the
    equi-join (no cartesian blowup)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter((lag_days >= 60) & (lag_days <= 90))
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_late_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("late_value"),
        )
        .orderBy("o_orderkey")
    )


JOIN_RANGE_SQL = """
SELECT o_orderkey, count(*) AS n_late_lines,
       round(sum(l_extendedprice), 2) AS late_value
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE date_diff('day', o_orderdate, l_shipdate) BETWEEN 60 AND 90
GROUP BY o_orderkey
ORDER BY o_orderkey
"""

# ---------------------------------------------------------------------------
# X7 — aggregation battery
# ---------------------------------------------------------------------------


def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact through CO-LOCATED buckets: orders/lineitem are
    (re)written bucketed on the order key, so the join itself runs with
    zero Exchange (plan-guarded in tests/test_plans.py) — the write-once
    shuffle that every subsequent orderkey join amortizes at 100 TB.
    Results are the plain join's (oracle: the unbucketed SQL join);
    revenue compares exact cents (q22/q9 pattern)."""
    from medical_examination_data_etl_system_spark.operators.bucketing import (
        bucketed_join,
        ensure_bucketed_order_tables,
    )

    orders_t, lineitem_t = ensure_bucketed_order_tables(spark, sf_dir)
    j = bucketed_join(spark, orders_t, lineitem_t)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(cents) / 100).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


BUCKETED_JOIN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       sum(round(l_extendedprice * (1 - l_discount) * 100, 0)) / 100 AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def agg_distinct_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT + plain aggregates per group."""
    cust = load(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.round(F.min("c_acctbal"), 2).alias("min_acctbal"),
            F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


def agg_bitmap_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates — the scalable
    alternative to COUNT(DISTINCT) when the key domain is dense
    integers: rows partial-aggregate map-side into per-(group, 32k
    bucket) bitmaps, so the shuffle carries ~|distinct|/8 BYTES per
    group instead of one row per distinct value, and re-aggregation
    (rollups, incremental refresh) is bitmap OR — mergeable like a
    sketch but exact. Spark 3.5+ built-ins (bitmap_bucket_number /
    bitmap_bit_position / bitmap_construct_agg / bitmap_count), all
    JVM-side. The oracle is plain COUNT(DISTINCT) — the point of the
    query is that the bitmap path must reproduce it exactly."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_bm_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(cnt) AS BIGINT) AS n_parts,
               CAST(sum(nrows) AS BIGINT) AS n_rows
        FROM (
          SELECT l_returnflag, bitmap_bucket_number(l_partkey) AS bkt,
                 bitmap_count(bitmap_construct_agg(bitmap_bit_position(l_partkey))) AS cnt,
                 count(*) AS nrows
          FROM _bm_lineitem GROUP BY 1, 2
        )
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


AGG_BITMAP_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


AGG_DISTINCT_SQL = """
SELECT c_mktsegment,
       count(DISTINCT c_nationkey)  AS n_nations,
       count(*)                     AS n_customers,
       round(sum(c_acctbal), 2)     AS total_acctbal,
       round(min(c_acctbal), 2)     AS min_acctbal,
       round(max(c_acctbal), 2)     AS max_acctbal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy (grouping sets)."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


AGG_ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two independent dimensions."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


AGG_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def agg_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) vs exact — rows-only oracle: the
    sketch estimate is engine-specific by construction."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


# ---------------------------------------------------------------------------
# X8 — window battery
# ---------------------------------------------------------------------------


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative order value per customer (frame: unbounded→current)."""
    orders = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by value — the canonical top-k-per-group."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_custkey", "rk")
    )


WINDOW_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 3
ORDER BY o_custkey, rk
"""


def window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 price BANDS per order priority with RANK semantics — ties
    keep every tied row (`rank() <= k` can return more than k rows),
    the ANSI "WITH TIES" behavior row_number-based top-k silently
    breaks. Prices quantize to 10k-wide bands so ties genuinely occur
    at every SF; dense_rank rides along to expose the gap-vs-dense
    distinction on the same frame."""
    orders = load(spark, sf_dir, "orders")
    band = F.expr("CAST(round(o_totalprice) AS BIGINT) div 10000") * 10_000
    counts = orders.groupBy("o_orderpriority", band.alias("price_band")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("n_orders"))
    return (
        counts.select(
            "o_orderpriority",
            "price_band",
            "n_orders",
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
        )
        .filter(F.col("rk") <= 2)
        .orderBy("o_orderpriority", "rk", "price_band")
    )


WINDOW_TOPK_TIES_SQL = """
WITH counts AS (
  SELECT o_orderpriority,
         (CAST(round(o_totalprice) AS BIGINT) // 10000) * 10000 AS price_band,
         count(*) AS n_orders
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, price_band, n_orders,
       rank() OVER (PARTITION BY o_orderpriority ORDER BY n_orders DESC) AS rk,
       dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY n_orders DESC) AS drk
FROM counts
QUALIFY rk <= 2
ORDER BY o_orderpriority, rk, price_band
"""


def window_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) gap repair: values
    nulled deterministically (every 3rd event simulates a dropped
    reading) are forward-filled from the user's most recent non-null
    observation via ``last(ignorenulls)`` over an unbounded-preceding
    frame — the sensor/telemetry repair idiom, one Exchange on the
    user key. Leading nulls (no prior observation) stay NULL; the
    audit columns count repaired vs unrepairable rows per user."""
    ev = load(spark, sf_dir, "events")
    gapped = F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = ev.select(
        "user_id",
        "event_id",
        gapped.alias("_gap"),
        F.last(gapped, ignorenulls=True).over(w).alias("_filled"),
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("_gap").isNull() & F.col("_filled").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_repaired"),
            F.sum(F.when(F.col("_filled").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unrepairable"),
            F.round(F.sum(F.round(F.col("_filled") * 100)).cast("double") / 100.0, 2).alias(
                "sum_filled"
            ),
        )
        .orderBy("user_id")
    )


WINDOW_LOCF_SQL = """
WITH gapped AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS gap
  FROM events
), filled AS (
  SELECT user_id, event_id, gap,
         last_value(gap IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS f
  FROM gapped
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN gap IS NULL AND f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repaired,
       CAST(sum(CASE WHEN f IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unrepairable,
       round(CAST(sum(round(f * 100)) AS DOUBLE) / 100.0, 2) AS sum_filled
FROM filled
GROUP BY user_id
ORDER BY user_id
"""


def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): days between consecutive orders per customer."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("days_since_prev"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


WINDOW_LAG_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS days_since_prev
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
"""

# ---------------------------------------------------------------------------
# X9 — set operations
# ---------------------------------------------------------------------------


def set_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): nations having customers or suppliers."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.union(supp).distinct().orderBy("nationkey")


SET_UNION_SQL = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations having BOTH customers and suppliers."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp).orderBy("nationkey")


SET_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with customers but no suppliers."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep
    # surplus duplicate occurrences from the left side.
    return cust.subtract(supp).orderBy("nationkey")


SET_EXCEPT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


def set_bag_semantics_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BAG (ALL) variants the distinct set battery deliberately
    avoids — intersectAll / exceptAll keep multiplicities
    (min(m_a, m_b) and m_a − m_b occurrences respectively), the ANSI
    semantics ETL reconciliation actually needs (how many MORE
    customer rows than supplier rows carry this nation). Both sides'
    multiplicities summarized per nation so the multiset arithmetic is
    hash-visible, not just row counts."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    inter = (
        cust.intersectAll(supp)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exc = (
        cust.exceptAll(supp)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n_surplus"))
    )
    return (
        inter.join(exc, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.coalesce("n_surplus", F.lit(0)).alias("n_surplus"),
        )
        .orderBy("nationkey")
    )


SET_BAG_SQL = """
WITH inter AS (
  SELECT nationkey, count(*) AS n_common FROM (
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
  ) GROUP BY nationkey
), exc AS (
  SELECT nationkey, count(*) AS n_surplus FROM (
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
  ) GROUP BY nationkey
)
SELECT coalesce(i.nationkey, e.nationkey) AS nationkey,
       coalesce(i.n_common, 0) AS n_common,
       coalesce(e.n_surplus, 0) AS n_surplus
FROM inter i FULL OUTER JOIN exc e ON i.nationkey = e.nationkey
ORDER BY nationkey
"""


def join_null_safe_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    MATCH EACH OTHER instead of silently dropping — the semantics a
    reconciliation join over dirty keys needs (a plain equi-join makes
    null-keyed rows vanish from both sides without a trace). Every 9th
    order's clerk bucket is nulled deterministically on both engines;
    the null bucket's row count proves the null⋈null matches
    happened."""
    orders = load(spark, sf_dir, "orders")
    bucket = F.when(F.col("o_orderkey") % 9 == 0, F.lit(None)).otherwise(
        (F.col("o_orderkey") % 5).cast("long")
    )
    a = orders.select(F.col("o_orderkey").alias("key_a"), bucket.alias("bucket"))
    b = orders.select(F.col("o_orderkey").alias("key_b"), bucket.alias("bucket"))
    # pair each order with the COUNT of same-bucket orders (self-join
    # aggregated — keeps output nation-sized instead of quadratic)
    per_bucket = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_b"))
    return (
        a.join(per_bucket, a["bucket"].eqNullSafe(per_bucket["bucket"]), "left")
        .groupBy(a["bucket"].alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("n_b").alias("bucket_size"),
        )
        .orderBy(F.col("bucket").asc_nulls_first())
    )


JOIN_NULL_SAFE_SQL = """
WITH tagged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 9 = 0 THEN NULL
              ELSE CAST(o_orderkey % 5 AS BIGINT) END AS bucket
  FROM orders
), per_bucket AS (
  SELECT bucket, count(*) AS n_b FROM tagged GROUP BY bucket
)
SELECT a.bucket, count(*) AS n_orders, max(p.n_b) AS bucket_size
FROM tagged a LEFT JOIN per_bucket p ON a.bucket IS NOT DISTINCT FROM p.bucket
GROUP BY a.bucket
ORDER BY a.bucket ASC NULLS FIRST
"""

# ---------------------------------------------------------------------------
# X1 — keep-first dedup (the scaled form of the pipeline's A2)
# ---------------------------------------------------------------------------


def dedup_first_lineitem_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-FIRST dedup by sort key: the first line (lowest linenumber)
    of every order. Same window pattern as pipeline/clean.py A2."""
    li = load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # extend the sort key so "first" is deterministic across engines.
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    return (
        li.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey")
    )


DEDUP_FIRST_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS _rn
      FROM lineitem)
WHERE _rn = 1
ORDER BY l_orderkey
"""


def agg_percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates: exact median / p90 (linear interpolation)
    per return flag, matching DuckDB ``quantile_cont``.

    NOT ``F.percentile``: that aggregate is a TypedImperativeAggregate
    (per-partition serialized value maps, no codegen) and measured ~6 s
    at sf0.1 — 10× the whole sort. And NOT a per-row ``row_number``
    window either (the original form): ranking every row funnels each
    flag's full row set through one task — measured 48 s at the 100×
    sweep, the Spearman parallelism-starvation class. Instead the
    VALUE-DOMAIN plan the latency/histogram queries use: per-(flag,
    value) counts (a proper map-side-combinable shuffle), a cumulative
    window over the DISTINCT-value frame (invariant to row
    replication), and rank→value lookup via the [offset, cum] span:
    the row at rank r carries value v iff offset(v) < r ≤ cum(v).
    Interpolation stays h = (n−1)·p + 1, v = v_lo + frac·(v_hi − v_lo)
    — identical arithmetic tree to the oracle. The mean comes from
    exact integer cents (Σ round(v·100)·c), divided once — no float
    summation order anywhere.

    The cumulative window ADAPTS to the value-domain size (the r11
    continuous-value hardening): on a bounded domain the plain
    flag-partitioned window runs as before (zero added jobs — the hint
    is the fact table's metadata rowcount, an upper bound on distinct
    (flag, price) rows); when the price domain is ~n (unique cents per
    row — the adversarial values corpus), the per-flag frame no longer
    fits one task and ``with_partitioned_prefix`` recovers the same
    sums from a range-partitioned parallel prefix, bit-identically."""
    from medical_examination_data_etl_system_spark.operators.ranking import with_partitioned_prefix
    from medical_examination_data_etl_system_spark.queries.analytics import VALUE_DOMAIN_SMALL_FRAME_ROWS

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    counts = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("_c")
    )
    ranked = with_partitioned_prefix(
        counts,
        ["l_returnflag"],
        [F.col("l_extendedprice")],
        running_sums={"_cum": "_c"},
        part_total_cols={"_n": "_c"},
        n_rows_hint=table_rowcount(spark, sf_dir, "lineitem"),
        small_frame_rows=VALUE_DOMAIN_SMALL_FRAME_ROWS,
    ).withColumn("_off", F.col("_cum") - F.col("_c"))

    def _q(p: float) -> F.Column:
        h = (F.col("_n") - 1) * F.lit(p) + 1
        lo_r, hi_r = F.floor(h), F.floor(h) + 1
        lo = F.max(
            F.when((F.col("_off") < lo_r) & (lo_r <= F.col("_cum")), F.col("l_extendedprice"))
        )
        hi = F.max(
            F.when((F.col("_off") < hi_r) & (hi_r <= F.col("_cum")), F.col("l_extendedprice"))
        )
        frac = F.max(h - F.floor(h))
        return F.round(lo + frac * (F.coalesce(hi, lo) - lo), 2)

    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            _q(0.5).alias("median_price"),
            _q(0.9).alias("p90_price"),
            F.round(
                (F.sum(cents * F.col("_c")).cast("double") / 100.0) / F.max("_n"), 2
            ).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )


# The oracle mirrors the Spark rank-and-interpolate formula EXPRESSION
# FOR EXPRESSION (not quantile_cont): identical double arithmetic on
# both engines means the value-hash can't flip at a half-cent rounding
# boundary (the q9 failure class) from a last-ulp interpolation
# difference.
PERCENTILES_SQL = """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       round(
         max(CASE WHEN rn = floor((n - 1) * CAST(0.5 AS DOUBLE) + 1) THEN l_extendedprice END)
         + max((n - 1) * CAST(0.5 AS DOUBLE) + 1 - floor((n - 1) * CAST(0.5 AS DOUBLE) + 1)) *
           (coalesce(max(CASE WHEN rn = floor((n - 1) * CAST(0.5 AS DOUBLE) + 1) + 1 THEN l_extendedprice END),
                     max(CASE WHEN rn = floor((n - 1) * CAST(0.5 AS DOUBLE) + 1) THEN l_extendedprice END))
            - max(CASE WHEN rn = floor((n - 1) * CAST(0.5 AS DOUBLE) + 1) THEN l_extendedprice END)), 2) AS median_price,
       round(
         max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE) + 1) THEN l_extendedprice END)
         + max((n - 1) * CAST(0.9 AS DOUBLE) + 1 - floor((n - 1) * CAST(0.9 AS DOUBLE) + 1)) *
           (coalesce(max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE) + 1) + 1 THEN l_extendedprice END),
                     max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE) + 1) THEN l_extendedprice END))
            - max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE) + 1) THEN l_extendedprice END)), 2) AS p90_price,
       round((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0)
             / count(*), 2) AS avg_price
FROM ranked
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts, status rows × priority-class columns."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "prio", F.substring("o_orderpriority", 1, 1)
    )
    return (
        orders.groupBy("o_orderstatus")
        .pivot("prio", ["1", "2", "3", "4", "5"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "o_orderstatus",
            F.col("1").alias("p1"),
            F.col("2").alias("p2"),
            F.col("3").alias("p3"),
            F.col("4").alias("p4"),
            F.col("5").alias("p5"),
        )
        .orderBy("o_orderstatus")
    )


PIVOT_SQL = """
SELECT o_orderstatus,
       count(*) FILTER (substring(o_orderpriority, 1, 1) = '1') AS p1,
       count(*) FILTER (substring(o_orderpriority, 1, 1) = '2') AS p2,
       count(*) FILTER (substring(o_orderpriority, 1, 1) = '3') AS p3,
       count(*) FILTER (substring(o_orderpriority, 1, 1) = '4') AS p4,
       count(*) FILTER (substring(o_orderpriority, 1, 1) = '5') AS p5
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def unpivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the pivoted status×priority matrix back to long
    form — ``DataFrame.unpivot`` (wide→long is the other half of the
    reshape surface; the oracle is the direct long-form aggregate)."""
    wide = pivot_status_by_priority(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["o_orderstatus"],
            values=["p1", "p2", "p3", "p4", "p5"],
            variableColumnName="prio",
            valueColumnName="n_orders",
        )
        .withColumn("prio", F.substring("prio", 2, 1))
        .orderBy("o_orderstatus", "prio")
    )


UNPIVOT_SQL = """
WITH prios AS (SELECT UNNEST(['1','2','3','4','5']) AS prio),
base AS (SELECT o_orderstatus, substring(o_orderpriority, 1, 1) AS prio FROM orders)
SELECT s.o_orderstatus AS o_orderstatus, p.prio AS prio,
       CAST(count(b.prio) AS BIGINT) AS n_orders
FROM (SELECT DISTINCT o_orderstatus FROM orders) s
CROSS JOIN prios p
LEFT JOIN base b ON b.o_orderstatus = s.o_orderstatus AND b.prio = p.prio
GROUP BY s.o_orderstatus, p.prio
ORDER BY s.o_orderstatus, p.prio
"""


def agg_p90_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped robust-outlier filter: orders strictly above their
    priority group's exact p90 total price.

    The p90 comes from the same one-sort rank-interpolation as
    ``agg_percentiles_by_flag`` (no TypedImperativeAggregate); the
    5-row per-group threshold table then BROADCASTS back onto orders,
    so the filter pass is map-side — the full relation shuffles once
    (the rank sort), never twice. The UNROUNDED p90 drives the
    comparison (rounding only the reported column): both engines
    evaluate the identical double expression tree, so the
    greater-than can't flip at a display-rounding boundary.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice", "o_orderkey")
    # ADAPTIVE p90 plan (r11 hardening, measured both ways on the 15M
    # continuous-domain corpus): BELOW the threshold the original
    # per-row row_number form wins — the 5-way priority split divides
    # the sort across tasks and the value-domain collapse is pure
    # overhead on a near-unique domain (row form 14.2 s vs 21.7
    # distributed / 29.8 collapsed-plain). PAST the threshold a
    # per-priority sort task stops fitting (n/5 rows through ONE task
    # at 10⁹) and the value-domain + partitioned parallel prefix takes
    # over: the value at row-rank r in sorted-with-ties order is the v
    # with offset(v) < r ≤ cum(v), so the IDENTICAL interpolation tree
    # runs over per-(priority, price) counts (branch equality pinned).
    hint = table_rowcount(spark, sf_dir, "orders")
    if hint is None or hint <= 20_000_000:
        wo = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
        wp = W.partitionBy("o_orderpriority")
        ranked = orders.select(
            "o_orderpriority",
            "o_totalprice",
            F.row_number().over(wo).alias("_rn"),
            F.count(F.lit(1)).over(wp).alias("_n"),
        )
        h = (F.col("_n") - 1) * F.lit(0.9) + 1
        lo = F.max(F.when(F.col("_rn") == F.floor(h), F.col("o_totalprice")))
        hi = F.max(F.when(F.col("_rn") == F.floor(h) + 1, F.col("o_totalprice")))
        frac = F.max(h - F.floor(h))
    else:
        from medical_examination_data_etl_system_spark.operators.ranking import with_partitioned_prefix

        counts = orders.groupBy("o_orderpriority", "o_totalprice").agg(
            F.count(F.lit(1)).alias("_c")
        )
        ranked = with_partitioned_prefix(
            counts,
            ["o_orderpriority"],
            [F.col("o_totalprice")],
            running_sums={"_cum": "_c"},
            part_total_cols={"_n": "_c"},
            n_rows_hint=hint,
        ).withColumn("_off", F.col("_cum") - F.col("_c"))
        h = (F.col("_n") - 1) * F.lit(0.9) + 1
        lo = F.max(
            F.when((F.col("_off") < F.floor(h)) & (F.floor(h) <= F.col("_cum")), F.col("o_totalprice"))
        )
        hi = F.max(
            F.when((F.col("_off") < F.floor(h) + 1) & (F.floor(h) + 1 <= F.col("_cum")), F.col("o_totalprice"))
        )
        frac = F.max(h - F.floor(h))
    p90 = ranked.groupBy("o_orderpriority").agg(
        (lo + frac * (F.coalesce(hi, lo) - lo)).alias("_p90")
    )
    return (
        orders.join(F.broadcast(p90), "o_orderpriority")
        .filter(F.col("o_totalprice") > F.col("_p90"))
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.min("_p90"), 2).alias("p90_price"),
            F.count(F.lit(1)).alias("n_outliers"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .orderBy("o_orderpriority")
    )


# Mirrors the Spark rank-and-interpolate EXPRESSION FOR EXPRESSION
# (PERCENTILES_SQL discipline): the unrounded p90 drives the filter on
# both engines.
P90_OUTLIER_SQL = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
), p90 AS (
  SELECT o_orderpriority,
         max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE) + 1) THEN o_totalprice END)
         + max((n - 1) * CAST(0.9 AS DOUBLE) + 1 - floor((n - 1) * CAST(0.9 AS DOUBLE) + 1)) *
           (coalesce(max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE) + 1) + 1 THEN o_totalprice END),
                     max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE) + 1) THEN o_totalprice END))
            - max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE) + 1) THEN o_totalprice END)) AS p90_exact
  FROM ranked
  GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       round(min(p.p90_exact), 2) AS p90_price,
       CAST(count(*) AS BIGINT) AS n_outliers,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       max(o.o_orderkey) AS max_orderkey
FROM orders o JOIN p90 p USING (o_orderpriority)
WHERE o.o_totalprice > p.p90_exact
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def layout_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-layout round trip: orders written Hive-partitioned by
    priority (sorted by orderdate within files), read back through the
    pruned path — the priority predicate eliminates directories before
    I/O, the date predicate pushes into the surviving files' row-group
    stats. The oracle aggregates the source directly, so the round trip
    (dir-name value restoration included) is value-hash-checked."""
    import tempfile

    from medical_examination_data_etl_system_spark.operators.layout import (
        read_pruned,
        write_partitioned,
    )

    orders = load(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="layout_orders_") + "/by_priority"
    write_partitioned(
        orders, out, partition_cols=["o_orderpriority"], sort_cols=["o_orderdate"]
    )
    back = read_pruned(spark, out).filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1996-07-01")
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .orderBy("o_orderstatus")
    )


LAYOUT_PRUNE_SQL = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       max(o_orderkey) AS max_orderkey
FROM orders
WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '1996-07-01'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def layout_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered layout round trip: orders written as flat
    parquet clustered by the Morton code of (o_custkey, o_orderdate),
    read back through a 2-D predicate box — the multi-column skipping
    Hive partitioning can't give (every file keeps tight min/max stats
    on BOTH dimensions, so the box overlaps few curve segments; file-
    skip ratio pinned in tests/test_layout.py). The oracle aggregates
    the source directly, value-hash-checking the whole round trip."""
    import tempfile

    from medical_examination_data_etl_system_spark.operators.layout import (
        minmax_bucket,
        write_zordered,
        zorder_value,
    )

    orders = load(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("timestamp").cast("long")
    bounds = orders.agg(
        F.min("o_custkey").alias("ck_lo"),
        F.max("o_custkey").alias("ck_hi"),
        F.min(day).alias("d_lo"),
        F.max(day).alias("d_hi"),
    )
    staged = orders.crossJoin(F.broadcast(bounds))
    z = zorder_value(
        [
            minmax_bucket(F.col("o_custkey"), F.col("ck_lo"), F.col("ck_hi")),
            minmax_bucket(day, F.col("d_lo"), F.col("d_hi")),
        ]
    )
    out = tempfile.mkdtemp(prefix="layout_zorder_") + "/orders_z"
    # Materialize the Morton code while the bounds columns are in scope,
    # then keep only the original columns + the code for the write.
    clustered = staged.withColumn("_zorder", z).select(*orders.columns, "_zorder")
    write_zordered(clustered, out, F.col("_zorder"), n_files=16)
    back = (
        spark.read.parquet(out)
        .filter(
            F.col("o_custkey").between(100, 400)
            & (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .orderBy("o_orderstatus")
    )


LAYOUT_ZORDER_SQL = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       max(o_orderkey) AS max_orderkey
FROM orders
WHERE o_custkey BETWEEN 100 AND 400
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def window_range_30d_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame (time-based) moving aggregate: per customer, order
    count and exact-cent spend over the trailing 30 days INCLUSIVE of
    peers — the frame is defined by the ORDER VALUE (event time), not
    row offsets, so same-day orders are all peers and the result is
    tie-order independent (the physical property rows-frames lack).
    Spark needs a numeric range key: epoch seconds, frame
    [-30*86400, 0]; DuckDB runs the same frame as RANGE INTERVAL."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .over(w)
        .alias("sum_cents_30d"),
    ).orderBy("o_orderkey")


WINDOW_RANGE_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(count(*) OVER w AS BIGINT) AS n_orders_30d,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_cents_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
ORDER BY o_orderkey
"""


def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): events.props parsed once
    into the binary variant encoding, fields extracted with typed
    ``variant_get`` — the open-schema column pattern (no schema
    declared up front, per-path typed access, shredding-ready) that
    replaces string-re-parsing ``get_json_object`` chains. Oracle is
    DuckDB's JSON extraction of the same path."""
    events = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


VARIANT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(max(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS max_k
FROM events
WHERE CAST(props->>'k' AS INTEGER) >= 50
GROUP BY event_type
ORDER BY event_type
"""


def join_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation — the missing member of the join
    battery: per-day order counts from two derived "systems" (urgent
    priorities vs high-value orders) full-outer-joined on the day, with
    null-side tagging and coalesced keys — the ledger-diff shape every
    reconciliation job runs. One co-partitioned shuffle join; neither
    side is dropped."""
    orders = load(spark, sf_dir, "orders")
    sys_a = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    sys_b = (
        orders.filter(F.col("o_totalprice") > 250000)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return (
        sys_a.join(sys_b, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
            F.when(F.col("n_a").isNull(), "only_b")
            .when(F.col("n_b").isNull(), "only_a")
            .otherwise("both")
            .alias("presence"),
        )
        .orderBy("day")
    )


FULL_OUTER_SQL = """
WITH sys_a AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_a
  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
), sys_b AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_b
  FROM orders WHERE o_totalprice > 250000 GROUP BY 1
)
SELECT coalesce(a.day, b.day) AS day,
       CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
       CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
       CASE WHEN n_a IS NULL THEN 'only_b'
            WHEN n_b IS NULL THEN 'only_a'
            ELSE 'both' END AS presence
FROM sys_a a FULL OUTER JOIN sys_b b USING (day)
ORDER BY day
"""


def window_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution members of the window battery: percent_rank,
    cume_dist, and nth_value over each priority's price ordering —
    ordering carries the order key as final tie-break so every rank
    statistic is engine-deterministic. Top-20 rows per priority keep
    the result compact."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(
                F.nth_value("o_totalprice", 3).over(
                    w.rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
                2,
            ).alias("third_price"),
        )
        .filter(F.col("rn") <= 20)
        .orderBy("o_orderpriority", "rn")
    )


WINDOW_DIST_SQL = """
SELECT o_orderpriority, o_orderkey,
       round(o_totalprice, 2) AS price,
       CAST(rn AS INTEGER) AS rn,
       round(pct_rank, 6) AS pct_rank,
       round(cume, 6) AS cume,
       round(third_price, 2) AS third_price
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER w AS rn,
         percent_rank() OVER w AS pct_rank,
         cume_dist() OVER w AS cume,
         nth_value(o_totalprice, 3) OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_totalprice DESC, o_orderkey
                                          ROWS UNBOUNDED PRECEDING) AS third_price
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
)
WHERE rn <= 20
ORDER BY o_orderpriority, rn
"""


def fn_explode_outer_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode: tokenized document rows fan out 1→N,
    but EMPTY documents survive as a null-token row (explode_outer) —
    the row-preservation contract plain explode silently breaks; the
    count reconciliation (every doc appears) is the point."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode_outer(
            F.filter(
                F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("token").alias("n_tokens"),
            (F.count(F.lit(1)) > F.count("token")).alias("had_empty"),
        )
        .orderBy("doc_id")
    )


EXPLODE_OUTER_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
                     t -> t <> '') AS tl
  FROM documents
)
SELECT doc_id,
       CAST(greatest(len(tl), 1) AS BIGINT) AS n_rows,
       CAST(len(tl) AS BIGINT) AS n_tokens,
       len(tl) = 0 AS had_empty
FROM toks
ORDER BY doc_id
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    status×priority, each margin, and the grand total in ONE pass —
    Catalyst expands to a single Expand + hash aggregate, so the fact
    scans once however many sets are requested. Exact-cents sum keeps
    the money column engine-exact.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n_orders,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_cents
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
        """
    )


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), (o_orderpriority), ())
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
"""


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: pairs of a customer's orders whose
    14-day fulfillment windows overlap. The equi-key (o_custkey) makes
    this a plain hash/sort-merge join with a range residual — per-key
    pair work is bounded by orders-per-customer (TPC-H ~10), so the
    theta condition never degenerates to a cartesian product; at 100 TB
    the shuffle is the customer key, the same partitioning every other
    per-customer query reuses.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("w_start"),
        F.date_add(F.to_date("o_orderdate"), 14).alias("w_end"),
    )
    # Time-bucket blocking: a 15-day interval covers ≤ 2 buckets of the
    # 28-day grid, and any OVERLAPPING pair shares the bucket of a
    # common day — so equi-joining on (custkey, bucket) finds every
    # pair while bounding per-task work by per-(customer, month)
    # density instead of per-customer history. Without the bucket key a
    # customer with k orders costs k² per task regardless of time
    # spread (measured ×198 at the 100× density-adversarial scale
    # check); with it, the same k orders spread over m months cost
    # Σ(k/m)²·m. Each pair is emitted ONLY from its canonical bucket —
    # the bucket containing the overlap's first day — a map-side filter,
    # so no distinct/dedup shuffle ever touches the (large) pair output.
    bucketed = o.select(
        "*",
        F.explode(
            F.array_distinct(
                F.array(
                    (F.datediff("w_start", F.lit("1990-01-01")) / 28).cast("int"),
                    (F.datediff("w_end", F.lit("1990-01-01")) / 28).cast("int"),
                )
            )
        ).alias("tb"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.tb") == F.col("b.tb"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.w_start") <= F.col("b.w_end"))
            & (F.col("b.w_start") <= F.col("a.w_end")),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("okey_a"),
            F.col("b.o_orderkey").alias("okey_b"),
            (
                F.datediff(
                    F.least("a.w_end", "b.w_end"),
                    F.greatest("a.w_start", "b.w_start"),
                )
                + 1
            ).cast("int").alias("overlap_days"),
        )
        .filter(
            F.col("a.tb")
            == (
                F.datediff(
                    F.greatest("a.w_start", "b.w_start"), F.lit("1990-01-01")
                )
                / 28
            ).cast("int")
        )
        .orderBy("custkey", "okey_a", "okey_b")
    )


INTERVAL_OVERLAP_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(o_orderdate AS DATE) AS w_start,
         CAST(o_orderdate AS DATE) + INTERVAL 14 DAY AS w_end
  FROM orders
)
SELECT a.o_custkey AS custkey, a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
       CAST(datediff('day',
                     greatest(a.w_start, b.w_start),
                     CAST(least(a.w_end, b.w_end) AS DATE)) + 1 AS INTEGER)
         AS overlap_days
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.w_start <= b.w_end AND b.w_start <= a.w_end
ORDER BY custkey, okey_a, okey_b
"""


def agg_kmv_overlap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV set-algebra kernel under a FULL exact oracle — the
    sketch-chip discipline (agg_cms_user_counts' md5 move), in place
    of an xxhash64 sample space that would leave it rows-only:
    md5-derived 60-bit integer hashes make the k-minimum sketch, the
    union-k merge, theta, and the both-membership count engine-
    deterministic INTEGERS; the two estimates are each one float
    division rounded once. DuckDB rebuilds the identical sketches and
    replays the full pairwise algebra value-exactly."""
    from medical_examination_data_etl_system_spark.operators.sketch import kmv_overlap_exact

    o = load(spark, sf_dir, "orders")
    return kmv_overlap_exact(o, "o_orderpriority", "o_custkey", k=256).orderBy(
        "grp_a", "grp_b"
    )


KMV_EXACT_SQL = """
WITH hashed AS (
  SELECT DISTINCT o_orderpriority AS grp,
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders
), sk AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= 256
), gs AS (SELECT DISTINCT grp FROM sk),
uni AS (
  SELECT DISTINCT p.grp_a, p.grp_b, s.h
  FROM (SELECT a.grp AS grp_a, b.grp AS grp_b FROM gs a JOIN gs b ON a.grp < b.grp) p
  JOIN sk s ON s.grp = p.grp_a OR s.grp = p.grp_b
), union_k AS (
  SELECT grp_a, grp_b, h FROM (
    SELECT grp_a, grp_b, h,
           row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS rn
    FROM uni
  ) WHERE rn <= 256
), marked AS (
  SELECT u.grp_a, u.grp_b, u.h,
         CASE WHEN sa.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN sb.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM union_k u
  LEFT JOIN sk sa ON sa.grp = u.grp_a AND sa.h = u.h
  LEFT JOIN sk sb ON sb.grp = u.grp_b AND sb.h = u.h
), agg AS (
  SELECT grp_a, grp_b, count(*) AS ku, max(h) AS theta_u,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both
  FROM marked GROUP BY 1, 2
)
SELECT grp_a, grp_b, ku, theta_u, n_both,
       round(CAST(n_both AS DOUBLE) / ku, 6) AS est_jaccard,
       round(CASE WHEN ku < 256 THEN CAST(ku AS DOUBLE)
                  ELSE CAST(ku - 1 AS DOUBLE) * 1152921504606846976.0 / theta_u
             END, 2) AS est_union
FROM agg ORDER BY grp_a, grp_b
"""


# Raw-estimate numerator alpha_m·m²·2^CAP for m=512, CAP=40, embedded
# as the SAME shortest-roundtrip literal in the Spark plan and the
# oracle so both parse to the identical double.
_HLL_ALPHA_NUM = 0.7213 / (1 + 1.079 / 512) * 512 * 512 * float(2**40)


def agg_hll_md5_rollup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch-rollup kernel under a FULL exact oracle — the
    md5 chip, in place of Spark's native hll_sketch_agg (whose binary
    is engine-specific, so a rollup on it is rows-only): registers are
    hand-built from md5-derived 60-bit hashes (bucket = h mod 512,
    rank = trailing-zeros+1 of the remaining bits, capped at 40 — an
    equally geometric variable, and ``round(log2(h2 & -h2))`` is exact
    for powers of two in both engines), and the MERGEABILITY the
    rollup exists to demonstrate is replayed literally: the per-status
    and global levels take ``max`` over the fine (status, priority)
    register table — the fact table is scanned ONCE, coarser levels
    merge 512-row register frames. Empty registers enter the harmonic
    sum arithmetically ((512 − nreg)·2^40 — no range join), the sum is
    an INTEGER (bit-shift, ≤ 512·2^40), and the estimate is one float
    division of that integer into a shared literal, rounded once.
    Deliberately the RAW estimator: the small-range linear-counting
    correction needs ln, whose cross-engine exactness hangs on libm
    ulp agreement — small-range consumers apply it from
    ``n_registers`` (which IS exact-checked); tests do exactly that."""
    from medical_examination_data_etl_system_spark.operators.sketch import _md5_hash60

    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderstatus",
        "o_orderpriority",
        _md5_hash60(F.col("o_custkey")).alias("h"),
    ).select(
        "o_orderstatus",
        "o_orderpriority",
        F.expr("h % 512").alias("bucket"),
        F.expr("h div 512").alias("h2"),
    )
    rank = F.expr(
        "CASE WHEN h2 = 0 THEN 40 "
        "ELSE least(CAST(round(log2(h2 & -h2)) AS INT) + 1, 40) END"
    )
    fine = (
        base.select("o_orderstatus", "o_orderpriority", "bucket", rank.alias("r"))
        .groupBy("o_orderstatus", "o_orderpriority", "bucket")
        .agg(F.max("r").alias("m"))
        .localCheckpoint(eager=False)  # one fact scan; 3 levels re-read
    )

    def _level(regs: DataFrame, level: int, with_status: bool, with_prio: bool) -> DataFrame:
        keys = (["o_orderstatus"] if with_status else []) + (
            ["o_orderpriority"] if with_prio else []
        )
        agg = regs.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("nreg"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 40 - m)")).alias("s_used"),
        )
        s = (F.lit(512) - F.col("nreg")).cast("long") * F.lit(2**40).cast("long") + F.col(
            "s_used"
        )
        return agg.select(
            F.lit(level).alias("level"),
            (F.col("o_orderstatus") if with_status else F.lit(None).cast("string")).alias(
                "o_orderstatus"
            ),
            (F.col("o_orderpriority") if with_prio else F.lit(None).cast("string")).alias(
                "o_orderpriority"
            ),
            F.col("nreg").cast("long").alias("n_registers"),
            F.round(F.lit(_HLL_ALPHA_NUM) / s, 2).alias("hll_estimate"),
        )

    lvl0 = _level(fine, 0, True, True)
    regs1 = fine.groupBy("o_orderstatus", "bucket").agg(F.max("m").alias("m"))
    lvl1 = _level(regs1, 1, True, False)
    regs2 = fine.groupBy("bucket").agg(F.max("m").alias("m"))
    lvl2 = _level(regs2, 2, False, False)
    return (
        lvl0.unionByName(lvl1)
        .unionByName(lvl2)
        .orderBy("level", "o_orderstatus", "o_orderpriority")
    )


HLL_MD5_ROLLUP_SQL = f"""
WITH h AS (
  SELECT o_orderstatus, o_orderpriority,
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders
), hb AS (
  SELECT o_orderstatus, o_orderpriority, h % 512 AS bucket, h // 512 AS h2 FROM h
), hr AS (
  SELECT o_orderstatus, o_orderpriority, bucket,
         CASE WHEN h2 = 0 THEN 40
              ELSE least(CAST(round(log2(h2 & (-h2))) AS INTEGER) + 1, 40) END AS r
  FROM hb
), fine AS (
  SELECT o_orderstatus, o_orderpriority, bucket, max(r) AS m
  FROM hr GROUP BY 1, 2, 3
), l0 AS (
  SELECT 0 AS level, o_orderstatus, o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_registers,
         CAST(512 - count(*) AS BIGINT) * 1099511627776
           + CAST(sum(CAST(1 AS BIGINT) << (40 - m)) AS BIGINT) AS s
  FROM fine GROUP BY 2, 3
), r1 AS (
  SELECT o_orderstatus, bucket, max(m) AS m FROM fine GROUP BY 1, 2
), l1 AS (
  SELECT 1 AS level, o_orderstatus, CAST(NULL AS VARCHAR) AS o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_registers,
         CAST(512 - count(*) AS BIGINT) * 1099511627776
           + CAST(sum(CAST(1 AS BIGINT) << (40 - m)) AS BIGINT) AS s
  FROM r1 GROUP BY 2
), r2 AS (
  SELECT bucket, max(m) AS m FROM fine GROUP BY 1
), l2 AS (
  SELECT 2 AS level, CAST(NULL AS VARCHAR) AS o_orderstatus,
         CAST(NULL AS VARCHAR) AS o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_registers,
         CAST(512 - count(*) AS BIGINT) * 1099511627776
           + CAST(sum(CAST(1 AS BIGINT) << (40 - m)) AS BIGINT) AS s
  FROM r2
), uni AS (
  SELECT * FROM l0 UNION ALL SELECT * FROM l1 UNION ALL SELECT * FROM l2
)
SELECT level, o_orderstatus, o_orderpriority, n_registers,
       round({_HLL_ALPHA_NUM!r} / s, 2) AS hll_estimate
FROM uni
ORDER BY level, o_orderstatus, o_orderpriority
"""


def agg_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators/sketch.
    cms_counters/cms_estimate): 4×1024 md5-derived counters over the
    event stream, point estimates for the 10 exact-heaviest users next
    to their true counts. The sketch's shuffle is O(partitions × 4096)
    counters whatever the row count — the mergeable-frequency
    primitive HLL (distinct) and KMV (set algebra) don't provide.
    Deterministic md5 construction ⇒ the oracle rebuilds the identical
    counter table, so this sketch row is EXACT-hash checked (estimates
    included), while pytest pins the CMS guarantee (estimate ≥ exact,
    bounded overcount)."""
    from medical_examination_data_etl_system_spark.operators.sketch import cms_counters, cms_estimate

    ev = load(spark, sf_dir, "events")
    counters = cms_counters(ev, "user_id", depth=4, width=1024)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), F.asc("user_id")).limit(10)
    est = cms_estimate(counters, top.select("user_id"), "user_id")
    return (
        top.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("exact_n")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
    )


CMS_USER_COUNTS_SQL = """
WITH seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
coords AS (
  SELECT s.seed,
         ('0x' || substr(md5(s.seed::VARCHAR || ':' || e.user_id::VARCHAR), 1, 8))::BIGINT
           % 1024 AS bucket
  FROM events e CROSS JOIN seeds s
), counters AS (
  SELECT seed, bucket, count(*) AS cnt FROM coords GROUP BY seed, bucket
), exact AS (
  SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id
), top AS (
  SELECT * FROM exact ORDER BY exact_n DESC, user_id LIMIT 10
), probes AS (
  SELECT t.user_id, s.seed,
         ('0x' || substr(md5(s.seed::VARCHAR || ':' || t.user_id::VARCHAR), 1, 8))::BIGINT
           % 1024 AS bucket
  FROM top t CROSS JOIN seeds s
), est AS (
  SELECT p.user_id, min(c.cnt) AS cms_estimate
  FROM probes p JOIN counters c USING (seed, bucket) GROUP BY p.user_id
)
SELECT t.user_id, t.exact_n, CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
       CAST(e.cms_estimate - t.exact_n AS BIGINT) AS overcount
FROM top t JOIN est e USING (user_id)
ORDER BY exact_n DESC, user_id
"""


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-built DataFrame-native Bloom semi-join reduction (Catalyst's
    ``bloom_filter_agg`` is not user-callable in PySpark 4.1 —
    SURVEY §2b; this closes the gap with stock operators): urgent-order
    keys are folded into a bit-packed Bloom — ``(word, bits)`` rows via
    ``bit_or(1 << bit)``, m=2¹⁷ bits → 2 048 words, BROADCASTABLE
    however many keys built it — and the lineitem fact is pre-filtered
    map-side by two hash probes before the EXACT verify semi-join, so
    only bloom-surviving rows (true matches + ~1% false positives)
    enter the shuffle. The oracle is the plain semi-join: the verify
    step makes the bloom invisible to the RESULT, visible only to the
    shuffle volume — exactly the semantics of the engine-internal rule.
    """
    from medical_examination_data_etl_system_spark.operators.cache import persist_tracked

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    keys = persist_tracked(
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            F.col("o_orderkey").alias("k")
        )
    )
    # Size the filter to the key count (~10 bits/key, two probes →
    # FP ≈ 3%), as the engine-internal rule does: a FIXED m saturates
    # once |keys| ≈ m/10 and stops pruning (measured at the 100× scale
    # check with m=2¹⁷: 4.6 bits/slot ⇒ ~98% FP). The one count()
    # action is the bloom BUILD's driver scalar; keys is PERSISTED
    # first (ADVICE r5) so the sizing scan materializes the frame the
    # bloom build, probe join, and exact verify all reuse — one orders
    # scan total instead of one per consumer. Cap 2²⁴ bits keeps the
    # word table ≤ 2 MB, broadcastable at any key count.
    n_keys = keys.count()
    m_bits = 1 << max(17, min(24, (10 * max(n_keys, 1)).bit_length()))

    def positions(col, seed):
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m_bits))

    def bloom_rows(seed):
        return keys.select(positions(F.col("k"), seed).alias("_pos")).selectExpr(
            "CAST(_pos div 64 AS INT) AS word",
            "shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT)) AS b",
        )

    bloom = (
        bloom_rows(1)
        .unionByName(bloom_rows(2))
        .groupBy("word")
        .agg(F.bit_or("b").alias("bits"))
    )
    probe = li.select("l_orderkey", "l_extendedprice")
    for seed in (1, 2):
        b = bloom.select(
            F.col("word").alias(f"w{seed}"), F.col("bits").alias(f"bits{seed}")
        )
        probe = (
            probe.withColumn(f"_pos{seed}", positions(F.col("l_orderkey"), seed))
            .withColumn(f"w{seed}", F.expr(f"CAST(_pos{seed} div 64 AS INT)"))
            .withColumn(
                f"m{seed}",
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_pos{seed} % 64 AS INT))"),
            )
            .join(F.broadcast(b), f"w{seed}", "left")
            .filter(F.col(f"bits{seed}").isNotNull() & (F.col(f"bits{seed}").bitwiseAND(F.col(f"m{seed}")) != 0))
        )
    survivors = probe.select("l_orderkey", "l_extendedprice")
    exact = survivors.join(keys, survivors.l_orderkey == keys.k, "left_semi")
    return exact.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("revenue_cents"),
    )


BLOOM_PREFILTER_SQL = """
SELECT count(*) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


_TRIGRAM_PATTERN = "ring"


def part_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search through an INVERTED TRIGRAM INDEX (the pg_trgm
    technique): `LIKE '%ring%'` answered by first pruning to names
    whose trigram set covers ALL the pattern's trigrams, then exact-
    verifying the survivors — the lossless two-phase plan a text index
    executes, demonstrated as one query whose oracle is the direct
    LIKE scan (equality IS the losslessness proof).

    Exact-collapse: trigrams enumerate per DISTINCT name (the name
    dictionary, content-bounded); the fact table is touched only by
    the final broadcast semi-join of verified names. The candidate
    check is a covering join (name×pattern-trigram, HAVING count =
    |pattern trigrams|), never a scan of raw rows."""
    pat = _TRIGRAM_PATTERN
    pat_tris = sorted({pat[i : i + 3] for i in range(len(pat) - 2)})
    parts = load(spark, sf_dir, "part")
    names = parts.select("p_name").distinct()
    tris = names.select(
        "p_name",
        F.explode(
            F.expr("transform(sequence(1, greatest(length(p_name) - 2, 0)), i -> substring(p_name, i, 3))")
        ).alias("tri"),
    ).distinct()
    covered = (
        tris.filter(F.col("tri").isin(pat_tris))
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == len(pat_tris))
    )
    verified = covered.filter(F.col("p_name").contains(pat)).select("p_name")
    return (
        parts.join(F.broadcast(verified), "p_name")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_name").alias("n_names"),
        )
        .orderBy("p_brand")
    )


# The oracle is the DIRECT LIKE scan — matching it exactly is the proof
# that the trigram candidate set is lossless.
TRIGRAM_SEARCH_SQL = """
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT p_name) AS BIGINT) AS n_names
FROM part
WHERE p_name LIKE '%ring%'
GROUP BY p_brand
ORDER BY p_brand
"""


QUERIES = {
    "part_trigram_search": QueryDef(part_trigram_search, TRIGRAM_SEARCH_SQL),
    "agg_p90_outlier_orders": QueryDef(agg_p90_outlier_orders, P90_OUTLIER_SQL),
    "layout_partition_prune": QueryDef(layout_partition_prune, LAYOUT_PRUNE_SQL),
    "layout_zorder_cluster": QueryDef(layout_zorder_cluster, LAYOUT_ZORDER_SQL),
    "window_range_30d_sum": QueryDef(window_range_30d_sum, WINDOW_RANGE_SQL),
    "events_variant_extract": QueryDef(events_variant_extract, VARIANT_SQL),
    "join_inner_enrich": QueryDef(join_inner_enrich, JOIN_INNER_SQL),
    "join_semi_customers_with_orders": QueryDef(join_semi_customers_with_orders, JOIN_SEMI_SQL),
    "join_anti_customers_without_orders": QueryDef(join_anti_customers_without_orders, JOIN_ANTI_SQL),
    "join_range_ship_lag": QueryDef(join_range_ship_lag, JOIN_RANGE_SQL),
    "join_bucketed_colocated": QueryDef(join_bucketed_colocated, BUCKETED_JOIN_SQL),
    "agg_distinct_per_segment": QueryDef(agg_distinct_per_segment, AGG_DISTINCT_SQL),
    "agg_bitmap_distinct_parts": QueryDef(agg_bitmap_distinct_parts, AGG_BITMAP_DISTINCT_SQL),
    "agg_rollup_region_nation": QueryDef(agg_rollup_region_nation, AGG_ROLLUP_SQL),
    "agg_cube_status_priority": QueryDef(agg_cube_status_priority, AGG_CUBE_SQL),
    "agg_approx_distinct_parts": QueryDef(agg_approx_distinct_parts, None),
    "agg_percentiles_by_flag": QueryDef(agg_percentiles_by_flag, PERCENTILES_SQL),
    "pivot_status_by_priority": QueryDef(pivot_status_by_priority, PIVOT_SQL),
    "unpivot_status_priority": QueryDef(unpivot_status_priority, UNPIVOT_SQL),
    "window_running_total": QueryDef(window_running_total, WINDOW_RUNNING_SQL),
    "window_topk_orders_per_customer": QueryDef(window_topk_orders_per_customer, WINDOW_TOPK_SQL),
    "window_order_gaps": QueryDef(window_order_gaps, WINDOW_LAG_SQL),
    "join_full_outer_reconcile": QueryDef(join_full_outer_reconcile, FULL_OUTER_SQL),
    "window_distribution_stats": QueryDef(window_distribution_stats, WINDOW_DIST_SQL),
    "fn_explode_outer_arrays": QueryDef(fn_explode_outer_arrays, EXPLODE_OUTER_SQL),
    "set_union_nations": QueryDef(set_union_nations, SET_UNION_SQL),
    "set_intersect_nations": QueryDef(set_intersect_nations, SET_INTERSECT_SQL),
    "set_except_nations": QueryDef(set_except_nations, SET_EXCEPT_SQL),
    "set_bag_semantics_nations": QueryDef(set_bag_semantics_nations, SET_BAG_SQL),
    "join_null_safe_keys": QueryDef(join_null_safe_keys, JOIN_NULL_SAFE_SQL),
    "window_topk_with_ties": QueryDef(window_topk_with_ties, WINDOW_TOPK_TIES_SQL),
    "window_locf_fill": QueryDef(window_locf_fill, WINDOW_LOCF_SQL),
    "dedup_first_lineitem_per_order": QueryDef(dedup_first_lineitem_per_order, DEDUP_FIRST_SQL),
    "agg_grouping_sets": QueryDef(agg_grouping_sets, GROUPING_SETS_SQL),
    "join_interval_overlap": QueryDef(join_interval_overlap, INTERVAL_OVERLAP_SQL),
    "join_bloom_prefilter": QueryDef(join_bloom_prefilter, BLOOM_PREFILTER_SQL),
    "agg_cms_user_counts": QueryDef(agg_cms_user_counts, CMS_USER_COUNTS_SQL),
    "agg_kmv_overlap_exact": QueryDef(agg_kmv_overlap_exact, KMV_EXACT_SQL),
    "agg_hll_md5_rollup_exact": QueryDef(agg_hll_md5_rollup_exact, HLL_MD5_ROLLUP_SQL),
}
