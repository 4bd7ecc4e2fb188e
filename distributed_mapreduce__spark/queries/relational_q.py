"""Relational-core registered queries (SURVEY.md §2.2 E6 + §7 step 2).

TPC-H-flavored coverage of the star schema: scan/filter/project with
parquet pushdown, the join family (broadcast inner, semi, anti, outer),
single- and multi-key aggregation, distinct, rollup, pivot, set ops,
scalar-aggregate subquery, sort/limit.

Money arithmetic is decimal-exact in BOTH engines (see
operators/relational.py): sums are order-independent, so the driver's
value-hash is stable under any partitioning. Averages divide the exact
decimal sum cast to double by the count — identical IEEE operands →
identical doubles in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relational import anti_join, charge, dec, disc_price, semi_join
from ..registry import register, register_local
from ..sources.tables import load_table, local_frame


# --- O1/O4 analog: pushdown scan ------------------------------------------


@register_local(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount > 0.05
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate, both pushed into the parquet scan
    (verify: PushedFilters/ReadSchema in explain)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate"
    ).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
    )


# --- TPC-H Q1 flavor: multi-agg groupBy -----------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)      AS sum_qty,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST((1 - l_discount) * (1 + l_tax) AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*)      AS avg_qty,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
      CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*)      AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: 2-key groupBy, 8 aggregates.

    One shuffle (partial→final HashAggregate); 6 groups total so the
    exchange moves ~6 rows per input partition regardless of fact size.

    Sums accumulate in exact DECIMAL (order-independent) and only the
    final 6-row result casts to DOUBLE — same in the oracle, so the
    driver's value hash sees identical IEEE doubles.

    The scan is projected to the 6 consumed columns (+ the widen key)
    and hash-spread on l_orderkey before the aggregate: the fixture
    files are single-row-group parquet, so the scan is ONE task and the
    per-row decimal arithmetic (the dominant cost — measured 1.4 s
    serial vs 0.4 s for the same sums over doubles) would otherwise run
    serially inside the partial-aggregate stage. One narrow exchange of
    the projected rows parallelizes it; at real scale the scan has
    thousands of splits and spread() is a no-op (guide §2.4/§2.5).
    Decimal sums are order-independent, so the result is bit-identical
    under any partitioning — measured 1.87 s → 0.81 s.
    """
    from ..plans.partitioning import spread

    li = spread(
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .select(
            "l_orderkey",
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        ),
        by=["l_orderkey"],
    )
    n = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price()).cast("double").alias("sum_disc_price"),
        F.sum(charge()).cast("double").alias("sum_charge"),
        (F.sum(dec("l_quantity")).cast("double") / n).alias("avg_qty"),
        (F.sum(dec("l_extendedprice")).cast("double") / n).alias("avg_price"),
        (F.sum(dec("l_discount")).cast("double") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


# --- TPC-H Q5 flavor: broadcast star join ---------------------------------


@register(
    "revenue_by_nation",
    oracle="""
    SELECT n_name,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table star join, dims broadcast → the fact tables never
    shuffle for the dim joins; only orders⋈lineitem exchanges (bucket
    both on orderkey at real scale to remove even that)."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    cust_dim = (
        customer.join(
            F.broadcast(nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    ).select("c_custkey", "n_name")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


# --- global top-k with join (O12+O13 generalized) -------------------------


@register_local(
    "top_customers",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spend,
           count(*) AS n_orders
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY spend DESC, c_custkey ASC
    LIMIT 10
    """,
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + deterministic global top-k
    (TakeOrderedAndProject: k rows per partition reach the driver).
    Local tier since the round-12 rotation (the E5 family keeps two
    driver rows: topk_parts_per_brand, ship_latency_rank); its slot
    went to ``hidden_partition_agg`` (queries/storage_q.py)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("spend"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("spend"), F.asc("c_custkey"))
        .limit(10)
    )


# --- join family: semi / anti / outer -------------------------------------


@register_local(
    "customer_order_presence",
    oracle="""
    SELECT 'open' AS presence, c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    UNION ALL
    SELECT 'none' AS presence, c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customer_order_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join in one result: customers WITH an open order
    (left-semi / EXISTS — never duplicates the left side) and customers
    with NO orders at all (left-anti / NOT EXISTS), tagged by cohort."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    open_orders = orders.filter(F.col("o_orderstatus") == "O")
    with_open = semi_join(
        customer, open_orders, customer.c_custkey == open_orders.o_custkey
    ).select(F.lit("open").alias("presence"), "c_custkey", "c_name")
    without_any = anti_join(
        customer, orders, customer.c_custkey == orders.o_custkey
    ).select(F.lit("none").alias("presence"), "c_custkey", "c_name")
    return with_open.unionByName(without_any)


@register_local(
    "order_item_counts_outer",
    oracle="""
    SELECT o_orderkey, coalesce(n_items, 0) AS n_items,
           coalesce(items_qty, CAST(0 AS DOUBLE)) AS items_qty
    FROM orders
    LEFT JOIN (
      SELECT l_orderkey, count(*) AS n_items,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS items_qty
      FROM lineitem GROUP BY l_orderkey
    ) li ON l_orderkey = o_orderkey
    """,
)
def order_item_counts_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join against a pre-aggregated fact (aggregate-below-join
    keeps the joined cardinality at one row per order)."""
    orders = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(dec("l_quantity")).cast("double").alias("items_qty"),
        )
    )
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left").select(
        "o_orderkey",
        F.coalesce("n_items", F.lit(0)).alias("n_items"),
        F.coalesce("items_qty", F.lit(0.0)).alias("items_qty"),
    )


# --- multi-key aggregation (fan-out groups) -------------------------------


@register_local(
    "part_supp_activity",
    oracle="""
    SELECT l_partkey, l_suppkey,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           count(*) AS n_lines,
           min(l_shipdate) AS first_ship,
           max(l_shipdate) AS last_ship
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
    """,
)
def part_supp_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-cardinality 2-key groupBy (many groups → real shuffle work;
    AQE coalesces post-shuffle partitions at small sf)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count("*").alias("n_lines"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


# --- distinct / count-distinct --------------------------------------------


@register_local(
    "nation_segment_stats",
    oracle="""
    SELECT n_name,
           count(DISTINCT c_mktsegment) AS n_segments,
           count(*) AS n_customers
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
)
def nation_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) — Catalyst plans expand+two-phase aggregate."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.count("*").alias("n_customers"),
        )
    )


# --- rollup ----------------------------------------------------------------


@register_local(
    "rollup_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (grouping sets); NULL marks the rolled-up
    level in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count("*").alias("n"),
    )


# --- cube ------------------------------------------------------------------


@register_local(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^n grouping-set combinations in one pass (Catalyst
    plans a single Expand + aggregate — not n² scans)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
    )


# --- exact quantiles -------------------------------------------------------


@register_local(
    "quantile_quantity",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25_qty,
           quantile_cont(l_quantity, 0.5)  AS median_qty,
           quantile_cont(l_quantity, 0.75) AS q75_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles THROUGH the quantile front door (VERDICT r5 item
    2): ``quantiles(strategy='auto')`` routes exact interpolated
    ``percentile`` vs the GK sketch on the LARGEST group's row count.
    The max comes from a profile sidecar when $SPARK_GRAFT_PROFILE_DIR
    provides one (zero estimation jobs), else one tiny groupBy-count
    probe — a measured max, so the 100x skew margin the mean-based
    inference must carry doesn't apply, and the route stays exact up
    to the documented 1e7-rows-per-group buffer budget (it IS exact at
    every fixture scale: sf1's largest l_returnflag group is ~2e6
    rows of its 6M total — still under the budget; the ~10x step
    after that (~2e7) crosses it and routes to the sketch — the
    correct behavior, the oracle below is for the exact regime). Both engines use the same (1-g)·a + g·b interpolation
    over sorted values, so the driver hashes raw doubles."""
    from ..operators.profile import table_hints
    from ..operators.relational import quantiles

    li = load_table(spark, sf_dir, "lineitem")
    hints = table_hints(spark, "lineitem")
    mgr = (hints or {}).get("max_group_rows", {}).get("l_returnflag")
    if mgr is None:
        mgr = (
            li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .first()[0]
        )
    out = quantiles(
        li,
        "l_quantity",
        [0.25, 0.5, 0.75],
        ["l_returnflag"],
        strategy="auto",
        max_group_rows=mgr,
    )
    return out.select(
        "l_returnflag",
        F.col("q_0_25").alias("q25_qty"),
        F.col("q_0_5").alias("median_qty"),
        F.col("q_0_75").alias("q75_qty"),
    )


@register(
    "key_counts_auto",
    oracle="""
    SELECT l_suppkey, count(*) AS cnt
    FROM lineitem
    WHERE l_suppkey IS NOT NULL
    GROUP BY l_suppkey
    HAVING count(*) >= 600
    """,
)
def key_counts_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE counting front door under the driver's value oracle
    (VERDICT r5 item 2): ``key_counts(strategy='auto')`` — exact
    group-by vs the bounded-memory Misra–Gries sketch, routed on
    (n_rows, n_distinct, threshold). Supplier keys are low-cardinality
    at every fixture scale, so auto picks the exact branch and the
    counts hash-match the SQL group-by bit-for-bit; the sketch
    branch's 3-way dispatch equality is pinned by
    tests/test_sketches.py. Hints come from a profile sidecar when
    $SPARK_GRAFT_PROFILE_DIR provides one, else ONE combined
    count+HLL estimation job."""
    from ..operators.profile import table_hints
    from ..operators.sketches import key_counts

    li = load_table(spark, sf_dir, "lineitem")
    hints = table_hints(spark, "lineitem")
    return key_counts(
        li,
        "l_suppkey",
        threshold=600,
        strategy="auto",
        n_rows=hints["n_rows"] if hints else None,
        n_distinct=hints["n_distinct"].get("l_suppkey") if hints else None,
    )


# --- pivot -----------------------------------------------------------------


@register_local(
    "pivot_status_by_flag",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_linestatus = 'O') AS cnt_o,
           count(*) FILTER (WHERE l_linestatus = 'F') AS cnt_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot = groupBy + conditional aggregation (one shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).alias("cnt_o"),
        F.coalesce(F.col("F"), F.lit(0)).alias("cnt_f"),
    )


# --- set operations --------------------------------------------------------


@register_local(
    "buyer_cohorts",
    oracle="""
    SELECT 'repeat' AS cohort, o_custkey FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    UNION ALL
    SELECT 'churned' AS cohort, o_custkey FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      EXCEPT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    """,
)
def buyer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations in one result: 1996 buyers who bought again in
    1997 (INTERSECT) and those who didn't (EXCEPT) — both distinct
    semantics in both engines, tagged by cohort."""
    orders = load_table(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    repeat = y96.intersect(y97).select(F.lit("repeat").alias("cohort"), "o_custkey")
    churned = y96.subtract(y97).select(  # subtract == EXCEPT (distinct)
        F.lit("churned").alias("cohort"), "o_custkey"
    )
    return repeat.unionByName(churned)


# --- scalar-aggregate subquery --------------------------------------------


@register_local(
    "orders_above_avg",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) * (SELECT count(*) FROM orders)
          > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
    """,
)
def orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the mean price. Phrased as price×N > ΣP — exact
    integer/decimal arithmetic, so the cut is identical in every engine
    (a double mean would make boundary rows engine-dependent)."""
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.agg(
        F.sum(dec("o_totalprice")).alias("total_spend"),
        F.count("*").alias("n_orders"),
    )
    return (
        orders.join(F.broadcast(stats))
        .filter(dec("o_totalprice") * F.col("n_orders") > F.col("total_spend"))
        .select("o_orderkey", "o_totalprice")
    )


# --- two-sided dimension join (TPC-H Q7 shape) -----------------------------


@register_local(
    "trade_volume_by_nations",
    oracle="""
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS volume
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    WHERE n1.n_name <> n2.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def trade_volume_by_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7 shape: the same dimension (nation) joined twice under
    different roles — both sides broadcast, fact tables never shuffle
    for the dimension lookups."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    cust = customer.join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
    supp = supplier.join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(disc_price()).cast("double").alias("volume"))
    )


# --- correlated subquery (TPC-H Q2 shape) ----------------------------------


@register_local(
    "max_line_per_order",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem l1
    WHERE l_extendedprice = (
      SELECT max(l_extendedprice) FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
    )
    """,
)
def max_line_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (TPC-H Q2's min-cost pattern): rows
    matching their group's extremum. DataFrame form is the standard
    decorrelation — aggregate once, join back (one extra shuffle instead
    of a per-row subquery; ties keep all rows in both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.groupBy(F.col("l_orderkey").alias("mk")).agg(
        F.max("l_extendedprice").alias("max_price")
    )
    return (
        li.join(
            mx,
            (F.col("l_orderkey") == F.col("mk"))
            & (F.col("l_extendedprice") == F.col("max_price")),
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


# --- range (band) join -----------------------------------------------------


@register_local(
    "orders_price_bands",
    oracle="""
    WITH bands(band_name, lo, hi) AS (
      VALUES ('small', 0.0, 50000.0),
             ('mid', 50000.0, 200000.0),
             ('big', 200000.0, 1000000000.0)
    )
    SELECT band_name, count(*) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_name
    """,
)
def orders_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: fact rows matched to interval dimension rows
    by BETWEEN predicates. Local tier since round 6 (the driver slot
    went to ``key_counts_auto``; ``orders_above_avg`` keeps a
    broadcast-nested-loop shape under the driver). The band side is tiny → broadcast
    nested-loop, each fact row tests 3 intervals — the right plan when
    the interval table is small. (Many/overlapping intervals at scale:
    bucketize the range key and equi-join on bucket first.)"""
    orders = load_table(spark, sf_dir, "orders")
    bands = local_frame(
        spark,
        [("small", 0.0, 50_000.0), ("mid", 50_000.0, 200_000.0), ("big", 200_000.0, 1e9)],
        "band_name string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )


# --- approximate sketches --------------------------------------------------


@register_local(
    "approx_stats",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           (abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
                - count(DISTINCT l_partkey))
              <= 0.15 * count(DISTINCT l_partkey)) AS approx_parts_ok,
           quantile_cont(l_extendedprice, 0.5) AS exact_median_price,
           (abs(approx_quantile(l_extendedprice, 0.5)
                - quantile_cont(l_extendedprice, 0.5))
              <= 0.10 * quantile_cont(l_extendedprice, 0.5)) AS approx_median_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB substitutes for exact distinct /
    percentiles (HyperLogLog++ and KLL merge across partitions; exact
    forms sort or expand). Raw estimates are engine-specific, so the
    checked result carries the exact values plus within-tolerance
    booleans each engine computes over its OWN sketch (15% for HLL,
    10% for the median — both far outside the documented error bounds);
    tests/test_approx_tolerance.py pins the tighter bound locally.

    Projected to the 3 consumed columns and hash-spread on l_partkey
    before the aggregate: the exact percentile / count-distinct update
    phase over the single-row-group fixture scan was ONE serial task
    (measured 6.1 s → 1.6 s; identical output — exact aggregates are
    partition-independent, the sketch booleans sit far inside their
    tolerance bands). No-op at real scale (guide §2.4/§2.5)."""
    from ..plans.partitioning import spread

    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_partkey", "l_extendedprice"
        ),
        by=["l_partkey"],
    )
    exact_parts = F.countDistinct("l_partkey")
    approx_parts = F.approx_count_distinct("l_partkey")
    exact_med = F.percentile("l_extendedprice", F.lit(0.5))
    approx_med = F.percentile_approx("l_extendedprice", 0.5, 10_000)
    return li.groupBy("l_returnflag").agg(
        exact_parts.alias("exact_parts"),
        (
            F.abs(approx_parts.cast("double") - exact_parts) <= 0.15 * exact_parts
        ).alias("approx_parts_ok"),
        exact_med.alias("exact_median_price"),
        (F.abs(approx_med - exact_med) <= 0.10 * exact_med).alias("approx_median_ok"),
    )


# --- date-part aggregation -------------------------------------------------


@register_local(
    "orders_per_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           count(*) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def orders_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup via date-part extraction (at scale: partition the
    sink by o_year/o_month so downstream scans prune)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )


_FUZZY_NAME_ORACLE = """
SELECT l.c_name AS name_l, r.c_name AS name_r,
       levenshtein(l.c_name, r.c_name) AS distance
FROM (SELECT DISTINCT c_name FROM customer) l
JOIN (SELECT DISTINCT c_name FROM customer) r
  ON l.c_name < r.c_name AND levenshtein(l.c_name, r.c_name) <= 2
"""


@register("fuzzy_name_pairs", oracle=_FUZZY_NAME_ORACLE)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (operators/linkage.fuzzy_key_join): customer
    names within edit distance 2 of each other — the Spark side runs
    the rarest-gram PREFIX-blocking + Levenshtein-verify pipeline
    (never all-pairs; plan asserted in tests/test_linkage.py), the
    oracle IS the brute-force all-pairs join, so a hash match proves
    the blocking lost nothing. Self-join form ordered l < r to halve
    the pair space. Driver-checked since round 7; the brute oracle is
    fine at the driver's sf0.01 (~2.3M pairs) but infeasible at the
    10x fixtures, where strict_check --scale substitutes the
    subsample-exact checker. Full gate set: tests/test_linkage.py."""
    from ..operators.linkage import fuzzy_key_join

    cust = load_table(spark, sf_dir, "customer").select("c_name")
    pairs = fuzzy_key_join(cust, cust, "c_name", "c_name", max_distance=2)
    return pairs.filter(F.col("c_name_l") < F.col("c_name_r")).select(
        F.col("c_name_l").alias("name_l"),
        F.col("c_name_r").alias("name_r"),
        "distance",
    )


@register_local(
    "orders_customer_join_auto",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def orders_customer_join_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join FRONT DOOR (relational.join_auto) under the value
    oracle: the caller states orders⋈customer and the router picks the
    physical strategy (broadcast here — customer is dimension-sized;
    at a 100 TB fact/fact join the same call routes to plain-with-AQE
    or salted). Routing is observability-logged but never semantic:
    the oracle is the plain SQL join."""
    from ..operators.relational import join_auto

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = join_auto(
        orders.withColumnRenamed("o_custkey", "custkey"),
        customer.withColumnRenamed("c_custkey", "custkey"),
        "custkey",
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
    )
