"""Relational query plans over the TESTDATA tables.

Covers SURVEY.md §2B's dataflow operator surface (scan, projection,
filter, inner equi-join, two-level aggregation, global aggregation,
distinct, union-all, sort, top-k, window cumulative sums, explode)
expressed declaratively so Catalyst plans partial aggregation,
predicate pushdown, column pruning and broadcast joins for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ext_spark.functions import collect_array_sorted


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """TESTDATA loader. Temporal encodings have drifted between driver
    rounds (r1 nano-int64 → r2+ timestamp_ntz); read_table normalizes
    events.ts to a session-tz TIMESTAMP and repairs unreadable
    orders/lineitem date encodings while keeping scan pushdown — see
    sources/io.py for the per-table policy."""
    from spark_ext_spark.sources import read_table
    return read_table(spark, sf_dir, name)


def _lattice_avg_4dp(col: str | Column, alias: str = "avg_v"):
    """4-decimal group average that is bit-identical across engines AND
    across partitionings: a bare ``round(avg(x), 4)`` is
    order-dependent double summation, and with mostly-2-decimal inputs
    (l_discount, o_totalprice, c_acctbal, events.value — ~90% on the
    cent lattice) the true average lands EXACTLY on .00005 half-grid
    points, so reorder ULP noise flips the rounding (3 of 3600 hourly
    buckets at sf0.1 — invisible at sf0.01's group sizes). Instead sum
    exact integers on a 1e-6 lattice (associative →
    order-independent), then quantize with the same-ordered double ops
    both engines run: floor((S/n)/1e2 + 0.5)/1e4. The 1e-6 input
    quantization perturbs the mean by <5e-7 — invisible at 4 decimals
    except exactly on the boundaries it exists to pin down. Integer-
    valued inputs (l_quantity, counts) don't need this: their double
    sums are exact and associative at any order. Oracle twin:
    _lattice_avg_4dp_sql.

    Scale headroom: the lattice is summed as decimal(38,0) (exact to
    1e38, still associative → still order-independent), so the sum
    holds |x|·1e6·n_group to ~1e38 — far past any 100 TB group; ANSI
    mode fails loudly beyond. The oracle twin sums the same BIGINT
    lattice as DuckDB HUGEINT (exact to 1.7e38). Both exact totals
    then pass through one identical IEEE int→double conversion, so
    the quantize chain sees the same double on both engines at any
    magnitude. Accepts a column name or a Column expression.

    Non-finite guard (round-10 NaN sweep): Spark's double→decimal cast
    silently turns NaN/±Inf into NULL — the sum skips the row but
    count(c) still counts it, silently DEFLATING the mean — while the
    DuckDB twin raises on the same per-row cast. A per-row codegen
    branch (free next to the cast) fails by name instead, covering
    every query built on this helper. The finite threshold 9.2233e12
    sits one conservative step below the oracle's per-row BIGINT
    lattice limit ((2^63-1)/1e6 ≈ 9.22337e12), so Spark is loud
    everywhere the oracle is — the boundary value 9.2e12 itself stays
    legal (test_lattice_avg_past_int64_sum pins it). NULL falls through
    both conditions and stays NULL (skipped by sum AND count — the
    documented missing-value contract)."""
    c = F.col(col) if isinstance(col, str) else col
    bad = F.isnan(c) | (F.abs(c) > F.lit(9.2233e12))
    lat = (F.when(bad, F.raise_error(F.lit(
               "lattice average: NaN or |value| beyond the 1e-6 "
               "integer lattice (~9.2233e12) — the exact cross-engine "
               "average cannot represent it (the DuckDB mirror raises "
               "on the same cast); pre-filter or repair"))
           .cast("decimal(38,0)"))
           .otherwise(F.floor(c * F.lit(1e6) + F.lit(5e-1))
                      .cast("decimal(38,0)")))
    s, n = F.sum(lat).cast("double"), F.count(c)
    return (F.when(n == 0, F.lit(None).cast("double"))
            .otherwise(F.floor((s / n) / F.lit(1e2) + F.lit(5e-1))
                       / F.lit(1e4))
            .alias(alias))


# the matching oracle aggregate — the HUGEINT sum is cast to DOUBLE
# (same IEEE conversion Spark applies to its decimal(38,0) sum) so
# neither engine overflows and no HUGEINT reaches the canonicalizer
def _lattice_avg_4dp_sql(expr: str) -> str:
    return (f"CASE WHEN count({expr}) = 0 THEN NULL ELSE "
            f"floor((CAST(sum(CAST(floor(({expr}) * 1e6 + 5e-1) AS BIGINT)) "
            f"AS DOUBLE) / count({expr})) / 1e2 + 5e-1) / 1e4 END")


# --- aggregation ----------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter → hash agg with partial combine.
    Exercises scan+filter pushdown, groupBy().agg(sum/avg/count)."""
    li = load(spark, sf_dir, "lineitem")
    return (li
            .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 # lattice, not round(avg(..)): l_discount is mostly
                 # 2-decimal, so its true mean lands on .00005 halves
                 # where summation-order ULP noise flips round() —
                 # see _lattice_avg_4dp. avg_qty is integer-valued →
                 # exact associative sum → plain avg is deterministic.
                 _lattice_avg_4dp("l_discount", alias="avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                            AS sum_qty,
       round(sum(l_extendedprice), 4)                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)    AS sum_disc_price,
       round(avg(l_quantity), 4)                            AS avg_qty,
       {_lattice_avg_4dp_sql('l_discount')}                 AS avg_disc,
       count(*)                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no grouping) aggregate — GatherEncoder.scala:203 shape."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(F.count(F.lit(1)).alias("n_events"),
                  F.countDistinct("user_id").alias("n_users"),
                  F.round(F.sum("value"), 4).alias("total_value"))


GLOBAL_AGG_SQL = """
SELECT count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 4) AS total_value
FROM events
"""


# --- joins ----------------------------------------------------------------

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way inner equi-join (SparkMlExtExample.scala:53-60 shape) with
    explicitly broadcast dimensions — at 100 TB customer/nation are tiny
    next to orders, so the join runs map-side with zero extra shuffle."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (orders
            .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders")))


REVENUE_BY_NATION_SQL = """
SELECT n_name,
       round(sum(o_totalprice), 4) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --- sort / top-k ---------------------------------------------------------

def top_users_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k top-k: agg → orderBy(desc, tie-break asc) → limit.
    Spark executes this as TakeOrderedAndProject — no global sort."""
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.round(F.sum("value"), 4).alias("total_value"))
            .orderBy(F.desc("total_value"), F.asc("user_id"))
            .limit(10))


TOP_USERS_BY_VALUE_SQL = """
SELECT user_id, round(sum(value), 4) AS total_value
FROM events
GROUP BY user_id
ORDER BY total_value DESC, user_id ASC
LIMIT 10
"""


# --- window ---------------------------------------------------------------

def cumulative_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative sum ordered by time — the window shape behind
    BinaryModelMetrics' cumulative counts (BinaryModelMetrics.scala:
    198-216), here partitioned by user so it scales (no single-partition
    global window)."""
    ev = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (ev.select("user_id", "event_id",
                      F.round(F.sum("value").over(w), 4).alias("cum_value")))


CUMULATIVE_USER_VALUE_SQL = """
SELECT user_id, event_id,
       -- both keys pinned NULLS FIRST (Spark ASC default): an
       -- unpinned NULL event_id tie-break reordered a tied-ts pair
       -- (caught by the seed-202 nullish sweep)
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST,
             event_id NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value
FROM events
"""


# --- distinct / union -----------------------------------------------------

def distinct_user_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct() — ExtAggregatesSpec.scala:42-44 shape."""
    ev = load(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


DISTINCT_USER_EVENT_PAIRS_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionAll keeps duplicates (Downsampling.scala:130 shape):
    customer and supplier nation keys stacked, duplicates counted."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    u = (customer.select(F.col("c_nationkey").alias("nationkey"))
         .unionByName(supplier.select(F.col("s_nationkey").alias("nationkey"))))
    return u.groupBy("nationkey").agg(F.count(F.lit(1)).alias("n_rows"))


UNION_ALL_KEYS_SQL = """
SELECT nationkey, count(*) AS n_rows FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier
) GROUP BY nationkey
"""


# --- collect / explode ----------------------------------------------------

def user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_array (A1): per-user sorted array of event types seen.
    Null skipping is part of the contract (aggregates.scala:38-39).

    The operator API stays ``array<string>`` (collect_array_sorted);
    the query serializes it to a '|'-joined string because the driver's
    canonicalizer cannot hash list-typed cells (r1/r2 err rows).
    """
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.array_join(collect_array_sorted("event_type"), "|")
                 .alias("event_types")))


USER_EVENT_TYPES_SQL = """
SELECT user_id,
       coalesce(array_to_string(
         list_sort(list(event_type) FILTER (event_type IS NOT NULL)), '|'), '')
         AS event_types
FROM events
GROUP BY user_id
"""


def user_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_array over distinct rows (ExtAggregatesSpec.scala:41-47);
    same string serialization as user_event_types for driver hashing."""
    ev = load(spark, sf_dir, "events")
    return (ev.select("user_id", "event_type").distinct()
            .groupBy("user_id")
            .agg(F.array_join(collect_array_sorted("event_type"), "|")
                 .alias("event_types")))


USER_DISTINCT_EVENT_TYPES_SQL = """
SELECT user_id,
       coalesce(array_to_string(
         list_sort(list(DISTINCT event_type) FILTER (event_type IS NOT NULL)),
         '|'), '')
         AS event_types
FROM events
GROUP BY user_id
"""


# --- join variants (beyond the reference's inner joins) -------------------

def left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer with their order count (0 when
    none) — null-producing joins feed GatherEncoder's null contract."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    counts = (orders.groupBy("o_custkey")
              .agg(F.count(F.lit(1)).alias("n_orders"),
                   F.round(F.sum("o_totalprice"), 4).alias("total_spent")))
    return (customer
            .join(counts, customer.c_custkey == counts.o_custkey, "left")
            .select("c_custkey",
                    F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
                    F.coalesce("total_spent", F.lit(0.0)).alias("total_spent")))


LEFT_JOIN_ORDER_COUNTS_SQL = """
SELECT c_custkey,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(total_spent, 0.0) AS total_spent
FROM customer
LEFT JOIN (
  SELECT o_custkey, count(*) AS n_orders,
         round(sum(o_totalprice), 4) AS total_spent
  FROM orders GROUP BY o_custkey
) ON c_custkey = o_custkey
"""


def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one urgent order."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (customer
            .join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
            .select("c_custkey", "c_mktsegment"))


SEMI_JOIN_ACTIVE_CUSTOMERS_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
"""


def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (customer
            .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
            .select("c_custkey", "c_nationkey"))


ANTI_JOIN_INACTIVE_CUSTOMERS_SQL = """
SELECT c_custkey, c_nationkey
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# --- multi-dimensional aggregation ----------------------------------------

def rollup_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (priority, status): subtotals + grand total, the
    standard OLAP rollup (NULL marks each subtotal level, same
    convention in both engines)."""
    orders = load(spark, sf_dir, "orders")
    return (orders
            .rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 4).alias("revenue")))


ROLLUP_ORDER_REVENUE_SQL = """
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket (hypertable-style) rollup: per-hour per-type counts
    and sums — date_trunc keyed aggregation, the continuous-aggregate
    shape."""
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value")))


HOURLY_ROLLUP_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2
"""


def _hourly_grid(ev: DataFrame, max_hours: int = 1_000_000) -> DataFrame:
    """Dense (hour × event_type) grid spanning the observed min/max
    hour — shared by hourly_gapfill and hourly_interpolate so a grid
    fix can never drift between them. Built from a broadcast
    single-row min/max aggregate exploded through sequence() and
    cross-joined with the distinct type table; cardinality is
    hours × types, independent of the fact-table size.

    Grid-explosion guard (round 9): "independent of the fact-table
    size" cuts both ways — ONE corrupt far-future timestamp (a
    year-9999 row in a 100 TB refresh) would make sequence() build a
    ~70M-element array in a single task and hand every LOCF window
    partition tens of millions of synthetic rows. The span is checked
    on the same single bounds row (free) and raises a NAMED error past
    ``max_hours`` (default ~114 years) telling the operator to filter
    or repair, instead of an unexplained executor OOM three stages
    later. Empty input stays empty: a NULL lo short-circuits the guard
    and sequence(NULL, NULL) explodes to no rows.

    NULL event_type: the grid keeps a NULL-type series (DISTINCT
    retains it on both engines), but the downstream left join is
    null-UNSAFE on BOTH engines identically (Spark equi-join ==
    SQL ``USING``), so that series shows the fill values, never its
    observed counts — an unattributable series stays empty by pinned
    cross-engine contract (nullish sweep); contrast theta_distinct's
    join-back, which null-safe-matches because there the NULL group's
    counts ARE the answer (r12 fix)."""
    bounds = ev.agg(F.min(F.date_trunc("hour", "ts")).alias("lo"),
                    F.max(F.date_trunc("hour", "ts")).alias("hi"))
    span_ok = (F.col("lo").isNull()
               | (F.expr("timestampdiff(HOUR, lo, hi)")
                  <= F.lit(max_hours)))
    seq = F.when(span_ok,
                 F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))) \
          .otherwise(F.raise_error(F.lit(
              "hourly grid would span more than "
              f"{max_hours} hours — a stray far-past/far-future "
              "timestamp would explode the gap-fill grid; filter or "
              "repair the ts column (or raise max_hours)"))
              .cast("array<timestamp>"))
    return (bounds.select(F.explode(seq).alias("hour"))
        .crossJoin(ev.select("event_type").distinct()))


# the matching oracle CTE prefix (expects an `hourly` CTE defined
# upstream by the caller; emits the dense grid as `g`)
_HOURLY_GRID_CTES = """
bounds AS (
  SELECT min(date_trunc('hour', ts)) AS lo,
         max(date_trunc('hour', ts)) AS hi
  FROM events
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
  FROM bounds
),
g AS (
  SELECT hour, event_type
  FROM grid CROSS JOIN (SELECT DISTINCT event_type FROM events) t
)"""


def hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series with LOCF (timescale
    `time_bucket_gapfill` + `locf` shape): a dense (hour × event_type)
    grid from the observed min/max hour, missing buckets filled with
    n_events=0 and the last observed hourly average carried forward
    (null before the first observation).

    Plan: the hourly rollup aggregates first (data-sized shuffle); the
    grid is built from a broadcast single-row min/max aggregate
    exploded through sequence() and cross-joined with the distinct
    type table — grid cardinality is hours × types, independent of the
    fact-table size, so at 100 TB the grid side stays tiny and
    broadcast. The LOCF window partitions by type and orders by hour —
    rows per partition bounded by the calendar, not the data."""
    ev = load(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                         "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   _lattice_avg_4dp("value")))
    grid = _hourly_grid(ev)
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(hourly, ["hour", "event_type"], "left")
            .select("hour", "event_type",
                    F.coalesce("n", F.lit(0)).alias("n_events"),
                    F.last("avg_v", ignorenulls=True).over(w)
                    .alias("locf_avg_value")))


HOURLY_GAPFILL_SQL = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n, {_lattice_avg_4dp_sql('value')} AS avg_v
  FROM events GROUP BY 1, 2
),{_HOURLY_GRID_CTES}
SELECT g.hour, g.event_type,
       coalesce(h.n, 0) AS n_events,
       last_value(h.avg_v IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS locf_avg_value
FROM g
LEFT JOIN hourly h ON h.hour = g.hour AND h.event_type = g.event_type
"""


def hourly_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across gaps in the hourly series (the
    companion to hourly_gapfill's LOCF): missing buckets get
    prev + (next-prev) · elapsed/gap from the nearest observed hourly
    averages on each side; edges fall back to the single available
    neighbor. Four ignorenulls windows (value+time, each direction)
    per type — same calendar-bounded partitions as the gapfill, so the
    cost never scales with the fact table."""
    ev = load(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                         "event_type")
              .agg(_lattice_avg_4dp("value", alias="v")))
    g = _hourly_grid(ev).join(hourly, ["hour", "event_type"], "left")
    back = (Window.partitionBy("event_type").orderBy("hour")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy("event_type").orderBy("hour")
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    obs_h = F.when(F.col("v").isNotNull(), F.col("hour"))
    prev_v = F.last("v", ignorenulls=True).over(back)
    next_v = F.first("v", ignorenulls=True).over(fwd)
    prev_h = F.last(obs_h, ignorenulls=True).over(back)
    next_h = F.first(obs_h, ignorenulls=True).over(fwd)
    frac = ((F.unix_timestamp("hour") - F.unix_timestamp(prev_h))
            / (F.unix_timestamp(next_h) - F.unix_timestamp(prev_h)))
    interp = (F.when(F.col("v").isNotNull(), F.col("v"))
              .when(prev_v.isNull(), next_v)
              .when(next_v.isNull(), prev_v)
              .otherwise(prev_v + (next_v - prev_v) * frac))
    return (g.select("hour", "event_type",
                     F.col("v").isNotNull().alias("observed"),
                     prev_v.alias("pv"), next_v.alias("nv"),
                     prev_h.alias("ph"), next_h.alias("nh"),
                     interp.alias("raw"))
            .select("hour", "event_type", "observed",
                    # NOT F.round: interpolating 4-decimal inputs lands
                    # on exact decimal halves constantly, and Spark
                    # rounds the double's shortest-decimal repr while
                    # SQL engines round the true binary value — they
                    # disagree on those halves. floor(x·10⁴ + 0.5)/10⁴
                    # is pure same-ordered double math, so both engines
                    # quantize the identical double identically.
                    (F.floor(F.col("raw") * 10000 + F.lit(0.5)) / 10000.0)
                    .alias("interp_value")))


HOURLY_INTERPOLATE_SQL = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         {_lattice_avg_4dp_sql('value')} AS v
  FROM events GROUP BY 1, 2
),{_HOURLY_GRID_CTES},
j AS (
  SELECT g.hour, g.event_type, h.v
  FROM g LEFT JOIN hourly h
    ON h.hour = g.hour AND h.event_type = g.event_type
),
w AS (
  SELECT hour, event_type, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         last_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         first_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM j
)
SELECT hour, event_type, (v IS NOT NULL) AS observed,
       -- floor-quantization instead of round(), and fraction-first
       -- association, to match the Spark double-op chain bit-for-bit
       floor((CASE WHEN v IS NOT NULL THEN v
                   WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   ELSE pv + (nv - pv)
                        * ((epoch(hour) - epoch(ph))
                           / (epoch(nh) - epoch(ph)))
              END) * 10000 + 0.5) / 10000.0 AS interp_value
FROM w
"""


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter → 3-way join → revenue agg →
    deterministic top-10."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp")
    return (cust.filter(F.col("c_mktsegment") == "BUILDING")
            .join(orders, cust.c_custkey == orders.o_custkey)
            .filter(F.col("o_orderdate") < cutoff)
            .join(li, orders.o_orderkey == li.l_orderkey)
            .filter(F.col("l_shipdate") > cutoff)
            .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10))


SHIPPING_PRIORITY_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def events_in_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/range_join.py): per-user activity windows
    (every 37th event opens a 6-hour window) joined to the events
    falling inside them — the sessional range-join shape."""
    from spark_ext_spark.operators.range_join import range_join

    ev = load(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts", "value")
    windows = (ev.filter(F.col("event_id") % 37 == 0)
               .select(F.col("event_id").alias("win_id"),
                       F.col("user_id").alias("w_user"),
                       F.col("ts").alias("w_start"),
                       F.expr("ts + INTERVAL 6 HOURS").alias("w_end")))
    joined = range_join(left, windows, left_ts="ts", right_start="w_start",
                        right_end="w_end", on="user_id", right_on="w_user",
                        bucket_width_seconds=6 * 3600)
    return (joined.groupBy("win_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("window_value")))


EVENTS_IN_ORDER_WINDOWS_SQL = """
WITH w AS (
  SELECT event_id AS win_id, user_id AS w_user, ts AS w_start,
         ts + INTERVAL 6 HOUR AS w_end
  FROM events WHERE event_id % 37 = 0
)
SELECT win_id, count(*) AS n_events,
       round(sum(value), 4) AS window_value
FROM w JOIN events e
  ON e.user_id = w.w_user AND w.w_start <= e.ts AND e.ts < w.w_end
GROUP BY win_id
"""


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all grouping-set combinations."""
    orders = load(spark, sf_dir, "orders")
    return (orders
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 _lattice_avg_4dp("o_totalprice", alias="avg_price")))


CUBE_ORDER_STATS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       {_lattice_avg_4dp_sql('o_totalprice')} AS avg_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) per return flag —
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the linear-
    interpolation definition. At 100 TB prefer approx_percentile
    (t-digest sketch, no sort); the exact version is the oracle.

    NaN contract (round-10 NaN sweep, same rule as value_robust_stats):
    a NaN price is MISSING — Spark's percentile orders NaN as the
    largest value (silently shifting every quantile) while DuckDB's
    quantile_cont propagates NaN into the result; both engines skip
    NULL identically, so NaN→NULL pins them to the same answer.
    n stays count(*) — row counts ignore the missing-value rule."""
    li = load(spark, sf_dir, "lineitem")
    # one percentile(..., array(...)) call: the per-group value buffer
    # is built and sorted once for both quantiles instead of twice
    pcts = F.expr("percentile(CASE WHEN isnan(l_extendedprice) "
                  "THEN NULL ELSE l_extendedprice END, "
                  "array(0.5, 0.9))")
    return (li.groupBy("l_returnflag")
            .agg(pcts.alias("_p"), F.count(F.lit(1)).alias("n"))
            .select("l_returnflag",
                    F.round(F.element_at("_p", 1), 4).alias("p50"),
                    F.round(F.element_at("_p", 2), 4).alias("p90"),
                    "n"))


PRICE_PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(p, 0.5), 4) AS p50,
       round(quantile_cont(p, 0.9), 4) AS p90,
       count(*) AS n
FROM (SELECT l_returnflag,
             CASE WHEN isnan(l_extendedprice) THEN NULL
                  ELSE l_extendedprice END AS p
      FROM lineitem)
GROUP BY l_returnflag
"""


# --- set operations --------------------------------------------------------

def intersect_high_value_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers who placed an order over 100k AND hold a
    positive account balance."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    big_buyers = (orders.filter(F.col("o_totalprice") > 100000)
                  .select(F.col("o_custkey").alias("custkey")))
    positive = (customer.filter(F.col("c_acctbal") > 0)
                .select(F.col("c_custkey").alias("custkey")))
    return big_buyers.intersect(positive)


INTERSECT_HIGH_VALUE_BUYERS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
INTERSECT
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
"""


def except_low_priority_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers with orders but never an urgent one."""
    orders = load(spark, sf_dir, "orders")
    all_buyers = orders.select(F.col("o_custkey").alias("custkey"))
    urgent = (orders.filter(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_custkey").alias("custkey")))
    return all_buyers.subtract(urgent)  # EXCEPT (distinct) semantics


EXCEPT_LOW_PRIORITY_ONLY_SQL = """
SELECT o_custkey AS custkey FROM orders
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


# --- pivot / window ranking / deciles --------------------------------------

def priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per status × priority as columns. The value
    list is explicit so the plan needs no extra distinct-values job and
    the output schema is stable; one shuffle on the groupBy key."""
    orders = load(spark, sf_dir, "orders")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    piv = (orders.groupBy("o_orderstatus")
           .pivot("o_orderpriority", pri)
           .count())
    names = ["urgent", "high", "medium", "notspec", "low"]
    return piv.select("o_orderstatus",
                      *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a)
                        for p, a in zip(pri, names)])


PRIORITY_PIVOT_SQL = """
SELECT o_orderstatus,
       count(*) FILTER (o_orderpriority = '1-URGENT')        AS urgent,
       count(*) FILTER (o_orderpriority = '2-HIGH')          AS high,
       count(*) FILTER (o_orderpriority = '3-MEDIUM')        AS medium,
       count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS notspec,
       count(*) FILTER (o_orderpriority = '5-LOW')           AS low
FROM orders
GROUP BY o_orderstatus
"""


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number + rank in one window pass: each customer's top-3
    orders by price. row_number's ordering carries a unique tiebreak
    (o_orderkey) so the result is deterministic; rank is computed on
    price alone so ties share a rank."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    wr = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (orders
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 4).alias("totalprice"),
                    F.row_number().over(w).alias("rn"),
                    F.rank().over(wr).alias("price_rank"))
            .filter(F.col("rn") <= 3))


TOP_ORDERS_PER_CUSTOMER_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey,
         round(o_totalprice, 4) AS totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
         rank() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC) AS price_rank
  FROM orders) t
WHERE rn <= 3
"""


def user_value_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over a per-user time ordering (unique tiebreak on
    event_id): each event's value change vs the previous event."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    nxt = F.lead("value").over(w)
    return ev.select(
        "user_id", "event_id",
        F.round(F.col("value") - prev, 4).alias("delta_prev"),
        F.round(nxt - F.col("value"), 4).alias("delta_next"))


USER_VALUE_DELTAS_SQL = """
SELECT user_id, event_id,
       round(value - lag(value)  OVER w, 4) AS delta_prev,
       round(lead(value) OVER w - value, 4) AS delta_next
FROM events
-- NULLS FIRST: Spark ascending window order puts null ts first,
  -- DuckDB defaults to NULLS LAST — the contract follows Spark
  -- event_id pinned too: a NULL tie-break key splits the engines
  -- (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST; seed-202 sweep)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST,
               event_id NULLS FIRST)
"""


def acctbal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(10) over a global ordering (unique tiebreak c_custkey),
    re-aggregated per decile. The global window is a single-partition
    sort — fine for dimension-sized inputs; for a fact-sized column use
    approx_percentile cutpoints + a bucket join instead (see SCALE.md).

    NULL balances are excluded from the ranking on BOTH engines: a
    decile of an unknown value is meaningless, and the engines default
    to opposite NULL sort positions (Spark ASC = NULLS FIRST, DuckDB
    NULLS LAST), which silently shifts every decile boundary — same
    contract as hourly_zscores dropping unknown-time events. Equal
    balances with a NULL tiebreak stay safe: fungible rows can't
    change any per-decile aggregate."""
    customer = (load(spark, sf_dir, "customer")
                .filter(F.col("c_acctbal").isNotNull()))
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (customer
            .select("c_acctbal", F.ntile(10).over(w).alias("decile"))
            .groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("c_acctbal"), 4).alias("lo"),
                 F.round(F.max("c_acctbal"), 4).alias("hi"),
                 _lattice_avg_4dp("c_acctbal", alias="mean")))


ACCTBAL_DECILES_SQL = f"""
SELECT decile, count(*) AS n,
       round(min(c_acctbal), 4) AS lo,
       round(max(c_acctbal), 4) AS hi,
       {_lattice_avg_4dp_sql('c_acctbal')} AS mean
FROM (SELECT c_acctbal,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer
      -- NULL-balance rows excluded on both engines (see
      -- acctbal_deciles: the engines' opposite NULL sort defaults
      -- would shift every decile boundary)
      WHERE c_acctbal IS NOT NULL) t
GROUP BY decile
"""


def above_class_average_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar shape (orders above their priority class's
    mean price), decorrelated into a window aggregate — one shuffle on
    the class key instead of a per-row subquery."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    # lattice class mean (see _lattice_avg_4dp): the window avg is
    # doubly hazardous — order-dependent accumulation (DuckDB's
    # segment tree vs Spark's running sum) AND a mostly-2-decimal
    # input whose true mean sits on round()'s half-grid. Exact BIGINT
    # window sums make the threshold identical on both engines, so the
    # strict > membership can't flip. The margin re-average gets the
    # same treatment (margins are mostly on a 1e-4 lattice after the
    # 4dp class_avg subtraction).
    lat = (F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(5e-1))
           .cast("decimal(38,0)"))  # exact to 1e38, see _lattice_avg_4dp
    # count the averaged COLUMN, not rows — a NULL price must not
    # deflate its class mean (same contract as _lattice_avg_4dp)
    class_avg = (F.floor((F.sum(lat).over(w).cast("double")
                          / F.count("o_totalprice").over(w))
                         / F.lit(1e2) + F.lit(5e-1)) / F.lit(1e4))
    margin = F.col("o_totalprice") - F.col("class_avg")
    return (orders
            .select("o_orderpriority", "o_totalprice",
                    class_avg.alias("class_avg"))
            .filter(F.col("o_totalprice") > F.col("class_avg"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_above"),
                 _lattice_avg_4dp(margin, alias="avg_margin")))


ABOVE_CLASS_AVERAGE_ORDERS_SQL = f"""
SELECT o_orderpriority, count(*) AS n_above,
       {_lattice_avg_4dp_sql('o_totalprice - class_avg')} AS avg_margin
FROM (SELECT o_orderpriority, o_totalprice,
             floor((CAST(sum(CAST(floor(o_totalprice * 1e6 + 5e-1)
                                 AS BIGINT))
                           OVER (PARTITION BY o_orderpriority) AS DOUBLE)
                    / count(o_totalprice)
                        OVER (PARTITION BY o_orderpriority))
                   / 1e2 + 5e-1) / 1e4 AS class_avg
      FROM orders) t
WHERE o_totalprice > class_avg
GROUP BY o_orderpriority
"""


def salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantically a plain GROUP BY user_id — physically the two-phase
    salted aggregation from plans/skew.py, oracle-checked here so the
    skew path's correctness is driver-verified, not just unit-tested."""
    from spark_ext_spark.plans.skew import salted_aggregate
    ev = load(spark, sf_dir, "events")
    out = salted_aggregate(
        ev, ["user_id"],
        {"total_value": (F.sum("value"), F.sum("total_value")),
         "n_events": (F.count(F.lit(1)), F.sum("n_events"))},
        n_salts=16)
    return out.select("user_id",
                      F.round("total_value", 4).alias("total_value"),
                      "n_events")


SALTED_USER_TOTALS_SQL = """
SELECT user_id, round(sum(value), 4) AS total_value,
       count(*) AS n_events
FROM events
GROUP BY user_id
"""


# --- sessionization / distinct counting / min-join-back --------------------

def event_sessions(spark: SparkSession, sf_dir: str,
                   gap_sec: int = 1800) -> DataFrame:
    """Batch sessionization: a gap > ``gap_sec`` between a user's
    consecutive events starts a new session. Two window passes over the
    same (user_id, time) partitioning — Catalyst reuses one sort+
    exchange for both — then a hash agg on (user, session). The
    arithmetic stays in integer microseconds end-to-end so both engines
    agree bit-for-bit; the streaming twin of this op is
    streaming/sessionize.py's applyInPandasWithState version."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(us).over(w)
    is_new = F.when(prev.isNull() | ((us - prev) > gap_sec * 1_000_000),
                    F.lit(1)).otherwise(F.lit(0))
    wseq = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (ev.select("user_id", "event_id", us.alias("us"),
                      F.sum(is_new).over(wseq).alias("session_id")))
    # duration stays integer µs: a seconds-valued double hits Spark-vs-
    # DuckDB round-half differences on exact .xxxx5 values (Spark
    # rounds the shortest decimal repr, DuckDB the binary value)
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("us").alias("session_start_us"),
                 (F.max("us") - F.min("us")).alias("duration_us")))


EVENT_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  -- NULLS FIRST: Spark ascending window order puts null ts first,
  -- DuckDB defaults to NULLS LAST — the contract follows Spark
  -- event_id pinned too: a NULL tie-break key splits the engines
  -- (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST; seed-202 sweep)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST,
               event_id NULLS FIRST)
),
sess AS (
  SELECT user_id, us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY us NULLS FIRST,
                           event_id NULLS FIRST
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       min(us) AS session_start_us,
       max(us) - min(us) AS duration_us
FROM sess GROUP BY user_id, session_id
"""


def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) per day — Catalyst plans the distinct as a
    two-phase expand/agg, no driver involvement. Day as a formatted
    string so both engines hash identical cells."""
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value")))


DAILY_ACTIVE_USERS_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY 1
"""


def cheapest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-per-group row recovery (the TPC-H Q2 inner shape): rows
    attaining their group's minimum. Expressed as a per-customer
    window minimum + equality filter (r12: previously groupBy + join
    back — the window does it in ONE customer-keyed exchange, where
    the join-back paid the min-aggregate exchange plus a re-shuffle of
    orders). Ties keep every attaining row in both engines —
    identical double bits from the same parquet make the equality
    cross-engine safe."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    # NULL-custkey rows are excluded EXPLICITLY: the join-back this
    # replaces dropped them via equi-join null semantics (as does the
    # oracle's JOIN), but a window PARTITION BY groups NULLs together
    # and would have let them through (caught by the hostile OLAP
    # parity sweep, seed 5 — one extra Spark row).
    return (orders
            .filter(F.col("o_custkey").isNotNull())
            .withColumn("min_price", F.min("o_totalprice").over(w))
            .filter(F.col("o_totalprice") == F.col("min_price"))
            .select("o_custkey", "o_orderkey",
                    F.round("min_price", 4).alias("min_price")))


CHEAPEST_ORDER_PER_CUSTOMER_SQL = """
SELECT o.o_custkey, o.o_orderkey, round(m.min_price, 4) AS min_price
FROM orders o
JOIN (SELECT o_custkey, min(o_totalprice) AS min_price
      FROM orders GROUP BY o_custkey) m
  ON o.o_custkey = m.o_custkey AND o.o_totalprice = m.min_price
"""


# --- JSON extraction / SQL front-end ---------------------------------------

def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction with ``from_json`` (schema'd, stays in
    codegen — unlike get_json_object's per-path parse): events whose
    props.k clears a threshold. At scale the parse cost is the scan
    cost; nothing shuffles until the caller aggregates."""
    ev = load(spark, sf_dir, "events")
    k = F.from_json("props", "k bigint")["k"]
    return (ev.select("event_id", "event_type", k.alias("k"))
            .filter(F.col("k").isNotNull() & (F.col("k") >= 50)))


# json_valid guard: Spark's from_json maps malformed JSON to NULL;
# DuckDB's json_extract THROWS on it — one bad row must null out, not
# error the whole oracle query
PROPS_JSON_EXTRACT_SQL = """
SELECT event_id, event_type,
       CAST(json_extract(CASE WHEN json_valid(props) THEN props END,
                         '$.k') AS BIGINT) AS k
FROM events
WHERE CAST(json_extract(CASE WHEN json_valid(props) THEN props END,
                        '$.k') AS BIGINT) >= 50
"""


def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end end-to-end: temp views + a pure ANSI string
    through spark.sql — GROUPING SETS with grouping() flags (so a NULL
    group cell is distinguishable from a NULL value). Planner output is
    a single Expand + hash aggregate, one shuffle."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n,
               round(sum(o_totalprice), 4) AS total
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


SQL_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       count(*) AS n,
       round(sum(o_totalprice), 4) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def approx_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the interactive-scale path: HLL++ distinct
    counts (approx_count_distinct, rsd=1%) and Greenwald-Khanna
    quantiles (percentile_approx) per event type. Both sketches are
    mergeable, so the plan is an ordinary partial+final aggregation
    with sketch-sized (KB) shuffle payloads instead of distinct-key
    sets — this is what replaces exact count(DISTINCT)/percentiles at
    100 TB. Rows-only driver check (sketch internals are
    engine-specific); error bounds vs exact are asserted in
    tests/test_plans.py.

    The three quantiles come from ONE GK sketch (a single
    percentile_approx aggregate) but are emitted as SCALAR q50/q95/q99
    columns: an array<double> result column crashed the driver's
    pandas canonicalizer (unhashable type: 'list') in round 9, so the
    rows-only check recorded no evidence at all. Driver-window outputs
    must be flat — pinned for every rows-only query by
    tests/test_oracle_types.py."""
    ev = load(spark, sf_dir, "events")
    q = F.percentile_approx("value", [0.5, 0.95, 0.99], 10000)
    agg = (ev.groupBy("event_type")
           .agg(F.approx_count_distinct("user_id", rsd=0.01)
                .alias("approx_users"),
                q.alias("_q")))
    return agg.select(
        "event_type", "approx_users",
        F.col("_q")[0].alias("value_q50"),
        F.col("_q")[1].alias("value_q95"),
        F.col("_q")[2].alias("value_q99"))


def doc_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode WITH POSITION (posexplode): sentence-ish splits
    of each document, keeping the sentence index. One generate node
    over the scan — no shuffle; output cardinality = total sentences.
    The trim/filter run on the exploded rows inside the same codegen
    stage."""
    docs = load(spark, sf_dir, "documents")
    parts = F.split("text", r"[.!?]")
    ex = docs.select("doc_id", F.posexplode(parts).alias("pos", "sentence"))
    return (ex.select("doc_id", "pos", F.trim("sentence").alias("sentence"))
            .filter(F.length("sentence") > 0))


DOC_SENTENCES_SQL = """
SELECT doc_id, i - 1 AS pos, trim(parts[i], ' ') AS sentence
FROM (SELECT doc_id, string_split_regex(text, '[.!?]') AS parts
      FROM documents),
     LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i)
WHERE length(trim(parts[i], ' ')) > 0
"""


def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling at different rates (the sampleBy shape)
    made deterministic: the md5 position of event_id (splits.py
    hash_unit_interval — 60-bit, overflow-free for ANY id, unlike a
    Knuth multiply which blows int64 past event_id ≈ 3.5e9) replaces
    Bernoulli draws, so task retries at 100 TB can't change the sample
    (and the oracle replays it exactly). Pure filter — no shuffle
    until the summary agg. PLANS.md shows no PushedFilters here and
    that is inherent, not a regression: a uniform-hash predicate is a
    function of the column, which parquet pushdown cannot accept (an
    arithmetic hash fares no better — it only adds an IsNotNull
    residual), and row-group min/max stats can never prune a filter
    that is uniform by construction."""
    from spark_ext_spark.llm.splits import hash_unit_interval
    ev = load(spark, sf_dir, "events")
    frac = (F.when(F.col("event_type") == "purchase", F.lit(1.0))
            .when(F.col("event_type") == "click", F.lit(0.5))
            .otherwise(F.lit(0.1)))
    keep = hash_unit_interval("event_id", "strat") < frac
    return (ev.filter(keep)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.round(F.sum("value"), 4).alias("sampled_value")))


STRATIFIED_SAMPLE_EVENTS_SQL = """
SELECT event_type, count(*) AS n_sampled,
       round(sum(value), 4) AS sampled_value
FROM events
WHERE ('0x' || substring(md5(event_id::VARCHAR || 'strat'), 1, 15))::BIGINT
      / 1152921504606846976.0
      < (CASE event_type WHEN 'purchase' THEN 1.0
                         WHEN 'click' THEN 0.5
                         ELSE 0.1 END)
GROUP BY event_type
"""


def top_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by with a COMPOSITE ordering struct: the event type
    of each user's highest-value event, ties broken by event_id so the
    argmax is total. One partial-aggregating shuffle — the window
    row_number alternative sorts every partition; max_by only carries
    one candidate per group through the combine."""
    ev = load(spark, sf_dir, "events")
    # FILTER (value IS NOT NULL): a row whose ordering value is NULL
    # must not win either argmax or argmin — Spark's struct comparison
    # ranks a null field FIRST ascending (so min_by would pick it)
    # while DuckDB ranks nulls LAST; excluding unrankable rows is the
    # only ordering both engines (and common sense) agree on
    return (ev.groupBy("user_id")
            .agg(F.expr("max_by(event_type, struct(value, event_id)) "
                        "FILTER (WHERE value IS NOT NULL)")
                 .alias("top_type"),
                 F.round(F.max("value"), 4).alias("top_value"),
                 F.expr("min_by(event_type, struct(value, event_id)) "
                        "FILTER (WHERE value IS NOT NULL)")
                 .alias("bottom_type")))


TOP_EVENT_PER_USER_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, value,
         -- tie-break null order pinned to Spark's struct compare:
         -- a NULL field ranks FIRST ascending, so min_by prefers a
         -- NULL event_id on value ties (ASC NULLS FIRST) and max_by
         -- prefers non-null ids (DESC NULLS LAST, DuckDB's default,
         -- pinned explicitly)
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id DESC NULLS LAST) AS rt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value ASC, event_id ASC NULLS FIRST) AS rb
  FROM events WHERE value IS NOT NULL
),
-- null-value rows can win neither argmax nor argmin (see the Spark
-- FILTER clause); the outer aggregate still keeps every user
everyone AS (SELECT DISTINCT user_id FROM events)
SELECT e.user_id,
       max(CASE WHEN rt = 1 THEN event_type END) AS top_type,
       round(max(value), 4) AS top_value,
       max(CASE WHEN rb = 1 THEN event_type END) AS bottom_type
FROM everyone e
-- null-safe join: the NULL user_id group is a real group (Spark
-- groupBy treats null as one key); plain equality would detach it
LEFT JOIN ranked r ON e.user_id IS NOT DISTINCT FROM r.user_id
GROUP BY e.user_id
"""


def props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns via Spark 4's VARIANT type: parse_json
    once into the binary variant encoding, then typed path extraction
    (try_variant_get). Versus from_json, VARIANT needs no up-front
    schema and re-extraction of other paths later costs no re-parse —
    the open-schema answer for 100 TB of heterogeneous props. Output
    stays plain BIGINT so the oracle can check it. try_parse_json (not
    parse_json, which FAILFASTs): one malformed props row must null
    out, not kill a 100 TB scan."""
    ev = load(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


# json_valid guard mirrors try_variant_get's null-on-malformed contract
PROPS_VARIANT_EXTRACT_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM (SELECT event_type,
             CAST(json_extract(CASE WHEN json_valid(props) THEN props END,
                               '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""


def moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (vs the ROWS frames elsewhere): per user, a
    trailing 7-day average/count over event VALUES — frame membership
    decided by time distance, not row position, so it's robust to
    irregular event spacing. Ordering key is integer µs; one shuffle
    on user_id."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    week_us = 7 * 86400 * 1_000_000
    w = (Window.partitionBy("user_id").orderBy(us)
         .rangeBetween(-week_us, 0))
    # Values quantized to integer 1e-4 units BEFORE the window sum:
    # engines disagree in the last ULP of sliding double sums (DuckDB
    # uses segment trees — different addition grouping), but integer
    # sums are exact everywhere; one final division is bit-identical.
    # ... and the final reduction truncates (floor) rather than rounds:
    # quantized sums make exact .xxxx5 halves COMMON, where Spark
    # (decimal-string HALF_UP) and DuckDB (binary value) disagree.
    #
    # Non-finite / beyond-lattice guard (same per-row codegen-branch
    # pattern as the fan-out guards, free next to the cast): non-ANSI
    # Spark casts NaN→0 and clamps ±Inf / |value| ≥ ~9.2e14 to
    # Long.Min/Max SILENTLY, while DuckDB raises on the same cast — a
    # one-row data refresh would split the engines. NULL falls through
    # both conditions and stays NULL (sum skips it identically).
    bad_v = F.isnan("value") | (F.abs("value") >= F.lit(9.2e14))
    vq = (F.when(bad_v, F.raise_error(F.lit(
              "moving_avg_7d: NaN or |value| beyond the 1e-4 integer "
              "lattice (~9.2e14) — the exact window sum cannot "
              "represent it (the DuckDB mirror raises on the same "
              "cast); pre-filter or repair")).cast("bigint"))
          .otherwise(F.floor(F.col("value") * 10000).cast("bigint")))
    s = F.sum(vq).over(w)
    n = F.count(F.lit(1)).over(w)
    return ev.select(
        "user_id", "event_id",
        (F.floor(s / n) / F.lit(10000.0)).alias("avg_7d"),
        n.alias("n_7d"))


MOVING_AVG_7D_SQL = """
SELECT user_id, event_id,
       floor(sum(vq) OVER w / count(*) OVER w) / 10000.0 AS avg_7d,
       count(*) OVER w AS n_7d
FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(floor(value * 10000) AS BIGINT) AS vq
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
"""


def value_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family per event type: sample stddev/
    variance of value, correlation and sample covariance between value
    and the props.k payload. All are single-pass mergeable moment
    aggregates — partial+final like any sum, nothing extra at scale.

    Determinism: the second moments are computed from EXACT 1e-6
    lattice integer sums (the _lattice_avg_4dp discipline extended to
    Σx², Σxy), then one identical IEEE double chain on both engines —
    a bare round(covar_samp(...), 4) is an order-dependent float sum
    whose true value can land on the .00005 half-grid, where reorder
    ULP noise flips the rounding (caught by the seed-11 nullish-events
    sweep). The naive Σxx−(Σx)²/n form is numerically worse than a
    streaming co-moment but is the SAME bits on both engines, which is
    what the hash gate needs; inputs here are small-magnitude. n<2 and
    zero-variance corr pin to NULL on both sides.

    Per-row lattice math stays in LONG (codegen-fast; an all-decimal
    variant A/B'd 1.4× slower) — exact while per-row products stay
    under 2^63, i.e. |value| and |k| up to ~3e3 at the 1e6 lattice.
    Non-ANSI Spark would silently WRAP past that (while the DuckDB
    mirror computes exactly in HUGEINT), so the domain is asserted
    explicitly: max/min witness columns ride the same aggregate for
    free and raise_error at result time when any input leaves the
    lattice domain — loud on every Spark config, not just ANSI.
    Max/min, not max(abs): the non-ANSI double→long cast clamps an
    extreme like -1e19 to Long.MinValue, whose abs wraps NEGATIVE and
    would slip under the >= LIM check (r9 advice). And the raise
    branch rides EVERY stat column, so projecting a subset cannot
    prune the guard away with the pruned columns.

    Buffer budget (r9 perf recovery): the LINEAR sums (Σv, Σv|pair,
    Σk|pair) fit LONG — |q| < 2^31.5 and the guard caps group rows at
    3e9, so Σ < 3e9·3.037e9 < 2^63 — only the four QUADRATIC sums
    (where one row can reach 2^63 alone) pay decimal(38,0). Same
    exact integers, so the double cast is bit-identical to the
    all-decimal form. 9 decimal buffers → 4.

    Zero-variance clamp (r8 advice): the cancellation form can go
    epsilon-negative in doubles on a constant column (svv − sv²/n =
    −32768.0 at value 2999.999999 ×25); Spark sqrt(neg) is NaN while
    DuckDB sqrt(neg) RAISES — clamp greatest(var, 0) on BOTH engines
    before the sqrt (and the 4dp quantize) so constant groups pin to
    0.0 everywhere."""
    ev = load(spark, sf_dir, "events")
    k = F.from_json("props", "k bigint")["k"].cast("double")
    base = ev.select("event_type", "value", k.alias("k"))
    vq = F.floor(F.col("value") * F.lit(1e6) + F.lit(5e-1)).cast("long")
    kq = F.floor(F.col("k") * F.lit(1e6) + F.lit(5e-1)).cast("long")
    pair = F.col("value").isNotNull() & F.col("k").isNotNull()

    def dsum(col):  # quadratic sums: one row can near 2^63 — decimal
        return F.sum(col.cast("decimal(38,0)")).cast("double")

    def lsum(col):  # linear sums: range-safe in LONG under the guard
        return F.sum(col).cast("double")

    agg = base.groupBy("event_type").agg(
        F.count("value").alias("n1"),
        lsum(vq).alias("sv"),
        dsum(vq * vq).alias("svv"),
        F.count(F.when(pair, F.lit(1))).alias("n2"),
        lsum(F.when(pair, vq)).alias("pv"),
        lsum(F.when(pair, kq)).alias("pk"),
        dsum(F.when(pair, vq * kq)).alias("pvk"),
        dsum(F.when(pair, vq * vq)).alias("pvv"),
        dsum(F.when(pair, kq * kq)).alias("pkk"),
        # domain witnesses as separate max/min — NOT max(abs):
        # a non-ANSI double→long cast clamps ±1e19 to Long.Min/MaxValue
        # and abs(Long.MinValue) WRAPS NEGATIVE, sliding the clamped
        # extreme under the >= LIM check; max/min cannot wrap
        F.max(vq).alias("mvx"), F.min(vq).alias("mvn"),
        F.max(kq).alias("mkx"), F.min(kq).alias("mkn"),
        # NaN witness: non-ANSI Spark casts NaN→long as 0, which the
        # min/max witnesses can never see (±Infinity clamps to
        # Long.Min/Max and IS caught) — while the DuckDB mirror raises
        # on CAST(nan AS BIGINT). Without this the engines silently
        # diverge on one NaN row: Spark folds it into the moments as a
        # zero, the oracle errors
        F.max(F.when(F.isnan("value") | F.isnan("k"), F.lit(1))
              .otherwise(F.lit(0))).alias("has_nan"))

    def q4(x):  # floor-quantize at 4dp — the identical chain in SQL
        return F.floor(x * F.lit(1e4) + F.lit(5e-1)) / F.lit(1e4)

    # |q| ≥ floor(sqrt(2^63)) would wrap the per-row q*q LONG multiply
    # (and > 3e9 rows/group could wrap a linear LONG sum) — fail loudly
    LIM = 3_037_000_499
    bad_domain = ((F.coalesce(F.col("mvx"), F.lit(0)) >= F.lit(LIM))
                  | (F.coalesce(F.col("mvn"), F.lit(0)) <= F.lit(-LIM))
                  | (F.coalesce(F.col("mkx"), F.lit(0)) >= F.lit(LIM))
                  | (F.coalesce(F.col("mkn"), F.lit(0)) <= F.lit(-LIM))
                  | (F.coalesce(F.col("has_nan"), F.lit(0)) == F.lit(1))
                  | (F.col("n1") > F.lit(3_000_000_000)))

    def guarded(expr):
        # the raise_error branch rides EVERY output stat column, so a
        # downstream projection that prunes some columns cannot prune
        # the overflow check with them
        return F.when(bad_domain, F.raise_error(F.lit(
            "value_statistics: value or k is NaN or beyond the ~3e3 "
            "lattice domain (or >3e9 rows in one group) — the exact "
            "LONG moment lattice would overflow or silently absorb "
            "NaN as 0; rescale the lattice or pre-filter")).cast(
            "double")).otherwise(expr)
    var = F.greatest(
        (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n1"))
        / (F.col("n1") - 1) / F.lit(1e12), F.lit(0.0))
    cov = ((F.col("pvk") - F.col("pv") * F.col("pk") / F.col("n2"))
           / (F.col("n2") - 1) / F.lit(1e12))
    vden = F.col("pvv") - F.col("pv") * F.col("pv") / F.col("n2")
    kden = F.col("pkk") - F.col("pk") * F.col("pk") / F.col("n2")
    cnum = F.col("pvk") - F.col("pv") * F.col("pk") / F.col("n2")
    corr = cnum / F.sqrt(vden * kden)
    return agg.select(
        "event_type",
        guarded(F.when(F.col("n1") < 2, F.lit(None).cast("double"))
                .otherwise(q4(F.sqrt(var)))).alias("sd_value"),
        guarded(F.when(F.col("n1") < 2, F.lit(None).cast("double"))
                .otherwise(q4(var))).alias("var_value"),
        guarded(F.when((F.col("n2") < 2) | (vden * kden <= 0),
                       F.lit(None).cast("double"))
                .otherwise(q4(corr))).alias("corr_vk"),
        guarded(F.when(F.col("n2") < 2, F.lit(None).cast("double"))
                .otherwise(q4(cov))).alias("covar_vk"))


VALUE_STATISTICS_SQL = """
WITH moments AS (
  SELECT event_type,
         count(value) AS n1,
         CAST(sum(CAST(vq AS HUGEINT)) AS DOUBLE) AS sv,
         CAST(sum(CAST(vq AS HUGEINT) * vq) AS DOUBLE) AS svv,
         count(CASE WHEN value IS NOT NULL AND k IS NOT NULL
               THEN 1 END) AS n2,
         CAST(sum(CASE WHEN k IS NOT NULL
                  THEN CAST(vq AS HUGEINT) END) AS DOUBLE) AS pv,
         CAST(sum(CASE WHEN value IS NOT NULL
                  THEN CAST(kq AS HUGEINT) END) AS DOUBLE) AS pk,
         CAST(sum(CAST(vq AS HUGEINT) * kq) AS DOUBLE) AS pvk,
         CAST(sum(CASE WHEN k IS NOT NULL
                  THEN CAST(vq AS HUGEINT) * vq END) AS DOUBLE) AS pvv,
         CAST(sum(CASE WHEN value IS NOT NULL
                  THEN CAST(kq AS HUGEINT) * kq END) AS DOUBLE) AS pkk
  FROM (SELECT event_type, value,
               CAST(floor(value * 1e6 + 5e-1) AS BIGINT) AS vq,
               k,
               CAST(floor(k * 1e6 + 5e-1) AS BIGINT) AS kq
        FROM (SELECT event_type, value,
                     CAST(CAST(json_extract(
                         CASE WHEN json_valid(props) THEN props END,
                         '$.k') AS BIGINT) AS DOUBLE) AS k
              FROM events))
  GROUP BY event_type
)
SELECT event_type,
       CASE WHEN n1 < 2 THEN NULL ELSE
         floor(sqrt(greatest((svv - sv * sv / n1) / (n1 - 1) / 1e12,
                             0)) * 1e4
               + 5e-1) / 1e4 END AS sd_value,
       CASE WHEN n1 < 2 THEN NULL ELSE
         floor(greatest((svv - sv * sv / n1) / (n1 - 1) / 1e12, 0)
               * 1e4
               + 5e-1) / 1e4 END AS var_value,
       CASE WHEN n2 < 2
              OR (pvv - pv * pv / n2) * (pkk - pk * pk / n2) <= 0
            THEN NULL ELSE
         floor((pvk - pv * pk / n2)
               / sqrt((pvv - pv * pv / n2) * (pkk - pk * pk / n2))
               * 1e4 + 5e-1) / 1e4 END AS corr_vk,
       CASE WHEN n2 < 2 THEN NULL ELSE
         floor((pvk - pv * pk / n2) / (n2 - 1) / 1e12 * 1e4
               + 5e-1) / 1e4 END AS covar_vk
FROM moments
"""


def sketch_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-rollup pattern for distinct counts at 100 TB:
    build one HLL sketch per day (Datasketches hll_sketch_agg — a
    mergeable, re-aggregable summary you'd persist next to the day's
    partition), then answer the month-level distinct-user question by
    UNIONING sketches (hll_union_agg) instead of rescanning raw data.
    Rows-only driver check (sketch binaries are engine-specific);
    merge losslessness and error bounds are asserted in tests."""
    ev = load(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
             .agg(F.hll_sketch_agg("user_id").alias("sk"),
                  F.count(F.lit(1)).alias("n_events")))
    return (daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .alias("distinct_users_est")))


def kmv_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable companion to approx_user_stats: per-event-
    type distinct-user estimates via the deterministic KMV sketch
    (operators/sketches.kmv_distinct, md5-60-bit hash space) instead
    of engine-internal HLL registers. k=64 so the sf0.01 driver run
    (150 distinct users/type) exercises the (k-1)/U(k) estimator, not
    just the exact-below-k branch. The estimate itself — not merely
    the row count — hash-matches DuckDB replaying the identical
    sketch math."""
    from spark_ext_spark.operators.sketches import kmv_distinct
    ev = load(spark, sf_dir, "events")
    return (kmv_distinct(ev, "user_id", ["event_type"], k=64, salt="kmv")
            .select("event_type", "k_eff", "kth_hash", "distinct_est"))


KMV_USER_STATS_SQL = """
WITH d AS (
  SELECT DISTINCT event_type,
         ('0x' || substring(md5(user_id::VARCHAR || 'kmv'), 1, 15))::BIGINT
             AS h
  FROM events WHERE user_id IS NOT NULL
), r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS k_eff,
       max(h) AS kth_hash,
       round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976.0
                       / CAST(max(h) AS DOUBLE) END, 4) AS distinct_est
FROM r WHERE rn <= 64
GROUP BY event_type
"""


def theta_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable companion to sketch_user_rollup: the same
    day→month incremental-rollup shape, with the per-day summary a
    fixed-threshold theta sketch (deterministic kept-hash set below
    p·2^60) instead of an HLL binary. The month-level distinct-user
    answer is the UNION of the per-day kept sets — re-aggregating
    sketches, never raw rows — and every value hash-matches DuckDB
    replaying the identical hash-space sample."""
    from spark_ext_spark.llm.splits import hash60
    from spark_ext_spark.operators.sketches import (theta_estimate,
                                                    theta_threshold)
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    p = 0.25
    theta = theta_threshold(p)
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    # per-day sketch contents (what a real pipeline would persist)
    daily_kept = (ev.where(hash60("user_id", "theta") < theta)
                  .select(day, hash60("user_id", "theta").alias("h"))
                  .distinct())
    merged = daily_kept.select("h").distinct()
    base = ev.agg(F.countDistinct(F.date_format("ts", "yyyy-MM-dd"))
                  .alias("n_days"),
                  F.count(F.lit(1)).alias("n_events"))
    n = F.count(F.lit(1))
    est = merged.agg(n.alias("n_kept"),
                     theta_estimate(n, p).alias("distinct_users_est"))
    # two scalar one-row frames — the join is a broadcast of one row
    return base.crossJoin(est)


THETA_USER_ROLLUP_SQL = """
WITH kept AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
         ('0x' || substring(md5(user_id::VARCHAR || 'theta'), 1, 15))::BIGINT
             AS h
  FROM events
  WHERE user_id IS NOT NULL
    AND ('0x' || substring(md5(user_id::VARCHAR || 'theta'), 1, 15))::BIGINT
        < 288230376151711744
), merged AS (SELECT DISTINCT h FROM kept)
SELECT (SELECT CAST(count(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT)
        FROM events WHERE user_id IS NOT NULL) AS n_days,
       (SELECT CAST(count(*) AS BIGINT)
        FROM events WHERE user_id IS NOT NULL) AS n_events,
       CAST(count(*) AS BIGINT) AS n_kept,
       round(CAST(count(*) AS DOUBLE) / 0.25, 4) AS distinct_users_est
FROM merged
"""


def lineitem_measure_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt (wide → long, the inverse of priority_pivot): four
    lineitem measures stacked into (measure, value) rows, then one
    aggregate per measure. Spark plans unpivot as an Expand — the same
    node grouping sets use — so it's a scan-side row multiplication,
    no join, one final shuffle."""
    li = load(spark, sf_dir, "lineitem")
    up = li.unpivot(
        ids=[], values=["l_quantity", "l_extendedprice", "l_discount",
                        "l_tax"],
        variableColumnName="measure", valueColumnName="val")
    return (up.groupBy("measure")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("val"), 4).alias("lo"),
                 F.round(F.max("val"), 4).alias("hi"),
                 F.round(F.sum("val"), 4).alias("total")))


LINEITEM_MEASURE_STATS_SQL = """
SELECT measure, count(*) AS n,
       round(min(val), 4) AS lo,
       round(max(val), 4) AS hi,
       round(sum(val), 4) AS total
FROM (
  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
GROUP BY measure
"""


def zorder_event_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order layout key per event from (user_id, minute-of-
    day): writing sorted by zkey clusters both dimensions so row-group
    min/max stats prune scans filtered on either — Z-ORDER BY as a
    plain deterministic column (functions.zorder_key)."""
    from spark_ext_spark.functions import zorder_key
    ev = load(spark, sf_dir, "events")
    minute = (F.hour("ts") * 60 + F.minute("ts")).cast("long")
    a = F.pmod(F.col("user_id"), F.lit(65536))
    return ev.select("event_id",
                     zorder_key(a, minute, bits=16).alias("zkey"))


ZORDER_EVENT_KEYS_SQL = """
-- ((x % m) + m) % m == Spark pmod: DuckDB's bare % is sign-preserving
-- and would diverge on negative user ids
SELECT event_id,
       list_sum(list_transform(range(0, 16), i ->
         (((((user_id % 65536) + 65536) % 65536 >> i) & 1) << (2*i))
         + ((((extract(hour FROM ts) * 60 + extract(minute FROM ts))
              >> i) & 1) << (2*i + 1))))::BIGINT AS zkey
FROM events
"""


def hilbert_event_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout key per event from (user_id, minute-of-
    day) — same two dimensions as zorder_event_keys but with the
    better-locality space-filling curve (consecutive key ranges are
    contiguous 2-D regions, no Morton jumps), so range-partitioned
    writes put fewer row groups under any 2-D range predicate. The
    oracle replays the xy2d rotation walk with one chained CTE per
    bit level (functions.hilbert_key docstring)."""
    from spark_ext_spark.functions import hilbert_key
    ev = load(spark, sf_dir, "events")
    minute = (F.hour("ts") * 60 + F.minute("ts")).cast("long")
    a = F.pmod(F.col("user_id"), F.lit(65536))
    # a NULL coordinate has no position on the curve: the key is NULL,
    # not whatever number the rotation walk's null-coerced CASE
    # branches happen to accumulate (the engines disagreed there)
    key = F.when(a.isNull() | minute.isNull(), F.lit(None))           .otherwise(hilbert_key(a, minute, bits=16))
    return ev.select("event_id", key.alias("hkey"))


def _hilbert_oracle(bits: int = 16) -> str:
    rounds = []
    prev = "h_init"
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        cur = f"h{i}"
        rounds.append(f"""{cur} AS (
  SELECT event_id, nil,
         d + {s * s} * CAST(xor(3 * rx, ry) AS BIGINT) AS d,
         CASE WHEN ry = 0
              THEN (CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END)
              ELSE x END AS x,
         CASE WHEN ry = 0
              THEN (CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END)
              ELSE y END AS y
  FROM (SELECT event_id, nil, x, y, d,
               CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
        FROM {prev})
)""")
        prev = cur
    return f"""
WITH h_init AS (
  -- ((x % m) + m) % m == Spark pmod (bare % is sign-preserving).
  -- nil carries the NULL-coordinate flag through the rotation CTEs
  -- (a re-join back to events would drop NULL event_ids and fan out
  -- duplicates — one row in must stay one row out)
  SELECT event_id,
         user_id IS NULL OR ts IS NULL AS nil,
         CAST(((user_id % 65536) + 65536) % 65536 AS BIGINT) AS x,
         CAST(extract(hour FROM ts) * 60 + extract(minute FROM ts)
              AS BIGINT) AS y,
         CAST(0 AS BIGINT) AS d
  FROM events
),
{",".join(rounds)}
-- NULL coordinate -> NULL key; the walk itself coerces nulls through
-- CASE branches, so the pre-walk flag decides
SELECT event_id, CASE WHEN nil THEN NULL ELSE d END AS hkey
FROM {prev}
"""


HILBERT_EVENT_KEYS_SQL = _hilbert_oracle()


def value_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust statistics: exact median (builtin holistic agg)
    and median absolute deviation via the engine's GROUPED_AGG pandas
    UDF (functions.median_abs_deviation — the custom-UDAF seam). Both
    are holistic (no partial agg), so parallelism = groups; acceptable
    whenever group cardinality ≥ cores and per-group rows are
    task-sized — same contract as exact percentiles.

    NaN contract (pinned on BOTH engines): robust statistics treat a
    NaN value as MISSING, like SQL NULL. Without the explicit
    normalization the engines silently diverge on one NaN row —
    Spark's median orders NaN as the largest value (shifting the
    median) while DuckDB's median/mad PROPAGATE NaN into the result;
    pandas (the MAD seam) skips NaN. n_events stays count(*) — row
    counts are unaffected by the missing-value rule."""
    from spark_ext_spark.functions import median_abs_deviation
    ev = load(spark, sf_dir, "events")
    v = F.when(F.isnan("value"), F.lit(None).cast("double")) \
         .otherwise(F.col("value"))
    ev = ev.select("event_type", v.alias("value"))
    mad = median_abs_deviation()
    # Spark disallows mixing a GROUPED_AGG pandas UDF with JVM
    # aggregates in one agg() — two group-keyed aggs joined on the key
    # (both group tables are tiny; the join is broadcast)
    jvm = (ev.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.median("value"), 4).alias("median_value")))
    robust = (ev.groupBy("event_type")
              .agg(F.round(mad("value"), 4).alias("mad_value"))
              .withColumnRenamed("event_type", "__et"))
    # null-safe key so a NULL event_type group (legal in the oracle's
    # single GROUP BY) survives the rejoin
    return (jvm.join(F.broadcast(robust),
                     jvm["event_type"].eqNullSafe(robust["__et"]))
            .drop("__et"))


VALUE_ROBUST_STATS_SQL = """
SELECT event_type, count(*) AS n_events,
       round(median(v), 4) AS median_value,
       round(mad(v), 4) AS mad_value
FROM (SELECT event_type,
             CASE WHEN isnan(value) THEN NULL ELSE value END AS v
      FROM events)
GROUP BY event_type
"""


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of three lineitem columns in ONE scan
    (operators/validation.py): null counts/rates, distinct counts,
    stringified min/max — the batch-acceptance report a 100 TB ingest
    runs before promoting data."""
    from spark_ext_spark.operators.validation import profile_columns
    li = load(spark, sf_dir, "lineitem")
    # exact distinct: this query is hash-compared against DuckDB's
    # count(DISTINCT ...); production profiles keep the approx default
    return profile_columns(li, ["l_suppkey", "l_returnflag", "l_quantity"],
                           exact_distinct=True)


TABLE_PROFILE_SQL = """
WITH one AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_a,
         count(DISTINCT l_suppkey) AS dist_a,
         CAST(min(l_suppkey) AS VARCHAR) AS min_a,
         CAST(max(l_suppkey) AS VARCHAR) AS max_a,
         CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_b,
         count(DISTINCT l_returnflag) AS dist_b,
         CAST(min(l_returnflag) AS VARCHAR) AS min_b,
         CAST(max(l_returnflag) AS VARCHAR) AS max_b,
         CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_c,
         count(DISTINCT l_quantity) AS dist_c,
         -- Java's non-finite tokens, matching Spark's CAST(x AS
         -- STRING) ('NaN'/'Infinity' vs printf's 'nan'/'inf') — the
         -- semantics (NaN sorts above Infinity in min/max) already
         -- agree; only the spelling differed (round-10 NaN sweep)
         CASE WHEN isnan(min(l_quantity)) THEN 'NaN'
              WHEN min(l_quantity) = 'infinity'::DOUBLE THEN 'Infinity'
              WHEN min(l_quantity) = '-infinity'::DOUBLE THEN '-Infinity'
              ELSE CAST(min(l_quantity) AS VARCHAR) END AS min_c,
         CASE WHEN isnan(max(l_quantity)) THEN 'NaN'
              WHEN max(l_quantity) = 'infinity'::DOUBLE THEN 'Infinity'
              WHEN max(l_quantity) = '-infinity'::DOUBLE THEN '-Infinity'
              ELSE CAST(max(l_quantity) AS VARCHAR) END AS max_c
  FROM lineitem
)
SELECT 'l_suppkey' AS column, n AS n_rows, null_a AS n_null,
       round(null_a / CAST(n AS DOUBLE), 6) AS null_rate,
       dist_a AS n_distinct, min_a AS min_value, max_a AS max_value
FROM one
UNION ALL
SELECT 'l_returnflag', n, null_b, round(null_b / CAST(n AS DOUBLE), 6),
       dist_b, min_b, max_b FROM one
UNION ALL
SELECT 'l_quantity', n, null_c, round(null_c / CAST(n AS DOUBLE), 6),
       dist_c, min_c, max_c FROM one
"""


def lineitem_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-check report (operators/validation.py): key
    non-null/unique, quantity bounds, returnflag domain — one scan."""
    from spark_ext_spark.operators.validation import check_expectations
    li = load(spark, sf_dir, "lineitem")
    return check_expectations(li, {
        "l_orderkey": {"not_null": True},
        "l_quantity": {"min": 0.0, "max": 100.0},
        "l_returnflag": {"in_set": ["A", "N", "R"]},
    })


LINEITEM_EXPECTATIONS_SQL = """
WITH one AS (
  SELECT sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS nn,
         min(l_quantity) AS mn, max(l_quantity) AS mx,
         sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                   AND l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS os
  FROM lineitem
)
SELECT 'l_orderkey' AS column, 'not_null' AS rule, nn = 0 AS ok,
       CAST(nn AS VARCHAR) AS observed FROM one
UNION ALL
SELECT 'l_quantity', 'min', mn >= 0.0,
       CASE WHEN isnan(mn) THEN 'NaN'
              WHEN mn = 'infinity'::DOUBLE THEN 'Infinity'
              WHEN mn = '-infinity'::DOUBLE THEN '-Infinity'
              ELSE CAST(mn AS VARCHAR) END FROM one
UNION ALL
SELECT 'l_quantity', 'max', mx <= 100.0,
       CASE WHEN isnan(mx) THEN 'NaN'
              WHEN mx = 'infinity'::DOUBLE THEN 'Infinity'
              WHEN mx = '-infinity'::DOUBLE THEN '-Infinity'
              ELSE CAST(mx AS VARCHAR) END FROM one
UNION ALL
SELECT 'l_returnflag', 'in_set[A|N|R]', os = 0, CAST(os AS VARCHAR)
FROM one
"""


def hourly_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly scoring: each hour's event count against the
    trailing-24-ROW mean/stddev per type (the ops-monitoring z-score).
    Rows, not hours: the baseline is the last 24 OBSERVED buckets —
    hours with zero events are absent from the rollup, so for sparse
    types the window reaches further back in wall time (compose with
    hourly_gapfill first when a strict 24-hour baseline is needed).
    Windows partition by type — calendar-bounded partitions, same scale
    argument as the gapfill family. std=0 and sub-2-sample windows
    yield NULL scores on both engines (guarded division; ANSI mode
    would otherwise error on the constant-window case)."""
    ev = load(spark, sf_dir, "events")
    # an unknown-time event has no hour bucket and must not pollute
    # the trailing baseline of real hours (it would occupy a frame
    # slot) — dropped from the time series on both engines. Also
    # load-bearing for the oracle: DuckDB 1.0's window operator
    # places a NULL-ordering-key row NONDETERMINISTICALLY (even under
    # a coalesce sentinel; observed 6 placements in 8 runs), so the
    # window must never see one.
    hourly = (ev.filter(F.col("ts").isNotNull())
              .groupBy(F.date_trunc("hour", "ts").alias("hour"),
                       "event_type")
              .agg(F.count(F.lit(1)).alias("n_events")))
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(-24, -1))
    mean = F.avg("n_events").over(w)
    std = F.stddev_samp("n_events").over(w)
    z = F.when(std > 0, (F.col("n_events") - mean) / std)
    return hourly.select(
        "hour", "event_type", "n_events",
        F.round(mean, 4).alias("trailing_mean"),
        F.round(z, 4).alias("zscore"))


HOURLY_ZSCORES_SQL = """
WITH hourly AS (
  -- ts IS NOT NULL: unknown-time events are outside the time series
  -- (and DuckDB 1.0 windows place NULL ordering keys randomly)
  SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT hour, event_type, n_events,
       round(avg(n_events) OVER w, 4) AS trailing_mean,
       round(CASE WHEN stddev_samp(n_events) OVER w > 0
                  THEN (n_events - avg(n_events) OVER w)
                       / stddev_samp(n_events) OVER w
             END, 4) AS zscore
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY hour
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
"""
