"""Relational operator coverage (SURVEY.md §2.B — the delegated SQL surface).

The reference delegates this entire surface to SQLite3 (builder.go:353-361,
README.md:326-334); we delegate it to Spark SQL / Catalyst. Each query below
exercises one row of SURVEY §2.B's inventory on the driver's TPC-H-ish
tables and is hash-checked against a DuckDB oracle.

Determinism contract (the oracle hash is exact):
- Money columns are exact 2-decimal values; every SUM/AVG over them is
  computed in **integer cents** (LongType), which is order-independent and
  exact — then converted to double by one deterministic IEEE division.
  Floating sums would differ from DuckDB in the last ulp (different add
  order) and ROUND() cannot repair that: Spark rounds the shortest decimal
  string of the double, DuckDB rounds the binary value, so a true value at a
  half-boundary (common for 2dp money) rounds differently.
- Raw column passthroughs are bit-exact (both engines read the same parquet)
  and are never rounded.

Scale notes (local[32] tests, 100 TB design):
- dimension joins (region/nation/supplier) are explicitly broadcast;
- fact-fact joins (orders⋈lineitem) are left to Catalyst/AQE: sort-merge with
  runtime skew splitting;
- aggregates are DataFrame-level so map-side partial aggregation is automatic;
  integer-cents sums are also cheaper to shuffle than doubles+rounding;
- cents sums fit LongType up to ~9e16 dollars (2^63/100) — beyond any SF here;
  the charge-style triple product (price·disc·tax in 1e-6 units) holds to
  ~1e12 rows per group before overflow, documented at each use.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from filesql_spark.queries import load_table, load_views, register


def cents(col: str | Column) -> Column:
    """Exact integer cents of a 2-decimal money double (order-independent sums)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


# DuckDB-side twin of ``cents`` for oracle SQL strings.
def _c(expr: str) -> str:
    return f"CAST(ROUND(({expr}) * 100) AS BIGINT)"


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)          AS sum_qty,
           CAST(SUM({_c('l_extendedprice')}) AS BIGINT) / 100.0     AS sum_base_price,
           CAST(SUM({_c('l_extendedprice')} * (100 - {_c('l_discount')})) AS BIGINT)
               / 10000.0                                            AS sum_disc_price,
           CAST(SUM({_c('l_extendedprice')} * (100 - {_c('l_discount')})
                    * (100 + {_c('l_tax')})) AS BIGINT) / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
                                                                    AS avg_qty,
           CAST(SUM({_c('l_extendedprice')}) AS BIGINT) / (100.0 * COUNT(*))
                                                                    AS avg_price,
           CAST(SUM({_c('l_discount')}) AS BIGINT) / (100.0 * COUNT(*))
                                                                    AS avg_disc,
           COUNT(*)                                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate scan with map-side partial agg.

    Reference parity: GROUP BY + SUM/AVG/COUNT surface
    (filesql_integration_test.go:180-191). Cents-product sums: price_cents ×
    disc_pct ≤ 1e9/row, exact in LongType to ~1e9 rows/group.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    price_c = cents("l_extendedprice")
    disc_f = 100 - cents("l_discount")  # (1 - discount) in percent units
    tax_f = 100 + cents("l_tax")
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            (F.sum(price_c) / 100.0).alias("sum_base_price"),
            (F.sum(price_c * disc_f) / 10000.0).alias("sum_disc_price"),
            (F.sum(price_c * disc_f * tax_f) / 1000000.0).alias("sum_charge"),
            (F.sum(qty) / n.cast("double")).alias("avg_qty"),
            (F.sum(price_c) / (100.0 * n)).alias("avg_price"),
            (F.sum(cents("l_discount")) / (100.0 * n)).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "agg_count_distinct",
    """
    SELECT COUNT(*)                          AS n_orders,
           COUNT(DISTINCT o_custkey)         AS n_customers,
           COUNT(DISTINCT o_orderpriority)   AS n_priorities,
           COUNT(o_orderstatus)              AS n_status
    FROM orders
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) / COUNT(col) / COUNT(DISTINCT) (filesql_integration_test.go:342)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count("o_orderstatus").alias("n_status"),
    )


@register(
    "agg_having",
    f"""
    SELECT o_custkey, COUNT(*) AS n,
           CAST(SUM({_c('o_totalprice')}) AS BIGINT) / 100.0 AS total
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 5 AND SUM({_c('o_totalprice')}) > 5000000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (filesql_integration_test.go:190-191).

    HAVING compares exact cents so the cut is identical on both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents("o_totalprice")).alias("_total_cents"),
        )
        .filter((F.col("n") >= 5) & (F.col("_total_cents") > 5_000_000))
        .select("o_custkey", "n", (F.col("_total_cents") / 100.0).alias("total"))
    )


@register(
    "agg_conditional_case",
    f"""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN {_c('o_totalprice')} > 10000000
                         THEN {_c('o_totalprice')} ELSE 0 END) AS BIGINT) / 100.0 AS big_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_conditional_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM(CASE WHEN …) conditional aggregation (filesql_integration_test.go:409,443-445)."""
    o = load_table(spark, sf_dir, "orders")
    tc = cents("o_totalprice")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("long")
        .alias("n_open"),
        (F.sum(F.when(tc > 10_000_000, tc).otherwise(0)) / 100.0).alias("big_total"),
    )


@register(
    "agg_group_concat",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite group_concat ≡ concat_ws∘sort_array∘collect_list (SURVEY §2.B).

    Both engines' native order is nondeterministic; we pin it by sorting.
    """
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
    )


# --------------------------------------------------------------------------
# Projection / filter / predicates
# --------------------------------------------------------------------------


@register(
    "filter_predicates",
    """
    SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
    FROM part
    WHERE (p_size BETWEEN 10 AND 30)
      AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND p_name LIKE '%a%'
      AND (p_retailprice > 1200 OR p_size = 15)
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE with AND/OR/BETWEEN/IN/LIKE (filesql_test.go:130-141).

    All predicates are Catalyst-pushable into the parquet scan; comparisons
    are on raw columns (bit-identical to the oracle's inputs).
    """
    p = load_table(spark, sf_dir, "part")
    return p.select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice").filter(
        F.col("p_size").between(10, 30)
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_name").like("%a%")
        & ((F.col("p_retailprice") > 1200) | (F.col("p_size") == 15))
    )


@register(
    "filter_like_ci",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_mktsegment ILIKE 'b%' AND c_name NOT ILIKE '%00'
    """,
)
def filter_like_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive LIKE through the full SQLite-dialect shim.

    SQLite's LIKE is case-insensitive for ASCII (the reference exercises
    mixed-case LIKE at filesql_test.go:130-141); Spark's is not. The query
    text below goes through dialect.rewrite (LIKE → ILIKE) and would return
    0 rows under Spark's native LIKE ('b%' vs 'BUILDING') — the oracle runs
    DuckDB's ILIKE, so a silent loss of the rewrite fails the hash gate.
    """
    from filesql_spark import dialect

    load_views(spark, sf_dir)
    return spark.sql(
        dialect.rewrite(
            "SELECT c_custkey, c_name, c_mktsegment FROM customer "
            "WHERE c_mktsegment LIKE 'b%' AND c_name NOT LIKE '%00'"
        )
    )


@register(
    "select_case_expr",
    f"""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 200000 THEN 'large'
                WHEN o_totalprice >= 50000  THEN 'medium'
                ELSE 'small' END AS bucket,
           {_c('o_totalprice')} * 110 / 10000.0 AS with_tax
    FROM orders
    """,
)
def select_case_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection expressions + CASE WHEN (example_test.go:798-802).

    with_tax = price × 1.1 computed as cents×110/10⁴ — exact 4-decimal value,
    deterministic without rounding.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 200000, "large")
        .when(F.col("o_totalprice") >= 50000, "medium")
        .otherwise("small")
        .alias("bucket"),
        (cents("o_totalprice") * 110 / 10000.0).alias("with_tax"),
    )


@register(
    "coalesce_cast",
    f"""
    SELECT event_type,
           CAST(SUM(CASE WHEN COALESCE({_c('value')}, 0) > 10000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(SUM(COALESCE({_c('value')}, 0)) AS BIGINT) / 100.0 AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def coalesce_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COALESCE + CAST (filesql_integration_test.go:228-229)."""
    e = load_table(spark, sf_dir, "events")
    vc = cents("value")
    return e.groupBy("event_type").agg(
        F.sum(F.when(F.coalesce(vc, F.lit(0)) > 10_000, 1).otherwise(0))
        .cast("long")
        .alias("n_big"),
        (F.sum(F.coalesce(vc, F.lit(0))) / 100.0).alias("total_value"),
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@register(
    "join_multiway_inner",
    f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_customers,
           CAST(SUM({_c('c.c_acctbal')}) AS BIGINT) / 100.0 AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_multiway_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way INNER equi-join (README.md:125-132). Dims broadcast explicitly."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum(cents("c_acctbal")) / 100.0).alias("total_bal"),
        )
    )


@register(
    "q3_shipping_priority",
    f"""
    SELECT l.l_orderkey AS l_orderkey,
           CAST(SUM({_c('l.l_extendedprice')} * (100 - {_c('l.l_discount')})) AS BIGINT)
               / 10000.0 AS revenue,
           o.o_orderdate AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: fact⋈fact join + agg + top-k.

    orders⋈lineitem is a fact-fact join left to AQE (sort-merge w/ skew
    handling); customer filter is pushed to the scan. Top-k compiles to
    TakeOrderedAndProject — no global sort.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-15 00:00:00").cast("timestamp")
    )
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier",
    f"""
    SELECT n.n_name AS nation,
           CAST(SUM({_c('l.l_extendedprice')} * (100 - {_c('l.l_discount')})) AS BIGINT)
               / 10000.0 AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a compound join condition."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    f"""
    SELECT CAST(SUM({_c('l_extendedprice')} * {_c('l_discount')}) AS BIGINT)
               / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND {_c('l_discount')} BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + ungrouped aggregate — the pushdown
    showcase. The shipdate range and quantity predicates reach the
    parquet scan (PushedFilters, asserted in test_plan_shapes), only the
    four referenced columns are read, and the whole query is one
    map-side partial sum + a single-row final agg: no shuffle of data
    rows at any scale. Discount is compared in exact cents so the
    revenue sum is integer-exact across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & cents("l_discount").between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents("l_extendedprice") * cents("l_discount")) / 10000.0).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_left_outer",
    """
    SELECT n.n_name AS nation, COUNT(c.c_custkey) AS n_customers
    FROM nation n
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000
    GROUP BY n.n_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with ON-clause filter (filesql_integration_test.go:136)."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    return (
        n.join(c, (c.c_nationkey == n.n_nationkey) & (c.c_acctbal > 9000), "left")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@register(
    "join_right_outer",
    """
    SELECT n.n_name AS nation, COUNT(s.s_suppkey) AS n_suppliers
    FROM supplier s
    RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (in SQLite dialect ≥3.39; SURVEY §2.B)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "join_full_outer",
    """
    WITH big_cust AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 8000
    ),
    cust_orders AS (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(b.c_custkey, co.o_custkey) AS custkey,
           COALESCE(b.c_acctbal, -1.0) AS acctbal,
           COALESCE(co.n_orders, 0) AS n_orders
    FROM big_cust b
    FULL OUTER JOIN cust_orders co ON b.c_custkey = co.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two derived tables (SURVEY §2.B)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = c.filter(F.col("c_acctbal") > 8000).select("c_custkey", "c_acctbal")
    co = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    return big.join(co, big.c_custkey == co.o_custkey, "full").select(
        F.coalesce(big.c_custkey, co.o_custkey).alias("custkey"),
        F.coalesce(big.c_acctbal, F.lit(-1.0)).alias("acctbal"),
        F.coalesce(co.n_orders, F.lit(0)).alias("n_orders"),
    )


@register(
    "join_cross",
    """
    SELECT r.r_name AS r_name, p.o_orderpriority AS o_orderpriority
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join (example_test.go:804; filesql_test.go:248-252)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    p = load_table(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return r.crossJoin(p)


@register(
    "join_left_semi",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS ≡ left-semi join (filesql_integration_test.go:458-474)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_left_anti",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS ≡ left-anti join (SURVEY §2.B semi/anti row).

    The totalprice cutoff keeps the anti side non-empty on the synthetic data
    (every customer has *some* order), so a wrong join type actually fails the
    oracle instead of passing on 0 rows.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_theta_selfjoin",
    """
    SELECT s1.s_suppkey AS s_suppkey, s1.s_name AS s_name,
           COUNT(s2.s_suppkey) AS n_richer
    FROM supplier s1
    LEFT JOIN supplier s2
      ON s2.s_nationkey = s1.s_nationkey AND s2.s_acctbal > s1.s_acctbal
    GROUP BY s1.s_suppkey, s1.s_name
    """,
)
def join_theta_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/non-equi self-join — the reference's window-emulation idiom
    (filesql_integration_test.go:535-553)."""
    s1 = load_table(spark, sf_dir, "supplier").alias("s1")
    s2 = load_table(spark, sf_dir, "supplier").alias("s2")
    return (
        s1.join(
            s2,
            (F.col("s2.s_nationkey") == F.col("s1.s_nationkey"))
            & (F.col("s2.s_acctbal") > F.col("s1.s_acctbal")),
            "left",
        )
        .groupBy(F.col("s1.s_suppkey").alias("s_suppkey"), F.col("s1.s_name").alias("s_name"))
        .agg(F.count("s2.s_suppkey").alias("n_richer"))
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@register(
    "window_rank",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS bal_rank
    FROM customer
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK() OVER (PARTITION BY … ORDER BY …) (filesql.go:66; example_test.go:749)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
    )


@register(
    "window_row_number",
    """
    SELECT o_orderkey, o_custkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
    """,
)
def window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_NUMBER() (example_test.go:750). Tie-broken on o_orderkey for determinism."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select("o_orderkey", "o_custkey", F.row_number().over(w).alias("order_seq"))


@register(
    "window_agg_over",
    f"""
    SELECT o_orderkey, o_custkey,
           CAST(SUM({_c('o_totalprice')}) OVER (PARTITION BY o_custkey) AS BIGINT)
               / (100.0 * COUNT(*) OVER (PARTITION BY o_custkey)) AS cust_avg,
           COUNT(*) OVER (PARTITION BY o_custkey) AS cust_orders
    FROM orders
    """,
)
def window_agg_over(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG/COUNT OVER (PARTITION BY …) (filesql.go:65-67; example_test.go:51-52)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(cents("o_totalprice")).over(w) / (100.0 * F.count("*").over(w))).alias(
            "cust_avg"
        ),
        F.count("*").over(w).alias("cust_orders"),
    )


@register(
    "window_running_sum",
    f"""
    SELECT o_orderkey, o_custkey,
           CAST(SUM({_c('o_totalprice')}) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) / 100.0 AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame spec ROWS BETWEEN (SURVEY §2.B frame row)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(cents("o_totalprice")).over(w) / 100.0).alias("running_total"),
    )


@register(
    "window_lag_lead",
    """
    SELECT o_orderkey, o_custkey,
           LAG(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
           LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
    FROM orders
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG / LEAD (SURVEY §2.B) — raw value passthrough, bit-exact."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@register(
    "window_ntile_dense_first",
    """
    SELECT c_custkey,
           NTILE(4)     OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile,
           DENSE_RANK() OVER (ORDER BY c_mktsegment)              AS seg_dense,
           FIRST_VALUE(c_custkey) OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal DESC, c_custkey) AS seg_top
    FROM customer
    """,
)
def window_ntile_dense_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE / DENSE_RANK / FIRST_VALUE (SURVEY §2.B)."""
    c = load_table(spark, sf_dir, "customer")
    w_all = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    w_seg = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        F.ntile(4).over(w_all).alias("quartile"),
        F.dense_rank().over(Window.orderBy("c_mktsegment")).alias("seg_dense"),
        F.first_value("c_custkey").over(w_seg).alias("seg_top"),
    )


# --------------------------------------------------------------------------
# Sort / limit / top-k / offset
# --------------------------------------------------------------------------


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProject, no global sort
    (filesql_integration_test.go:92; README.md:278)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("total"))
    )


@register(
    "limit_offset",
    """
    SELECT o_orderkey, o_totalprice AS total
    FROM orders
    ORDER BY o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT … OFFSET … (SQLite dialect; SURVEY §2.B sort/limit)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey")
        .offset(40)
        .limit(20)
        .select("o_orderkey", F.col("o_totalprice").alias("total"))
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@register(
    "set_union_all",
    """
    SELECT 'high_value' AS label, o_orderkey FROM orders WHERE o_totalprice > 250000
    UNION ALL
    SELECT 'urgent' AS label, o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (filesql_integration_test.go:493-532)."""
    o = load_table(spark, sf_dir, "orders")
    high = o.filter(F.col("o_totalprice") > 250000).select(
        F.lit("high_value").alias("label"), "o_orderkey"
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("urgent").alias("label"), "o_orderkey"
    )
    return high.unionAll(urgent)


@register(
    "set_union_distinct",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) (SURVEY §2.B set ops)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (SURVEY §2.B set ops)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (SURVEY §2.B set ops).

    The acctbal filter on the subtracted side guarantees a non-empty result
    on the synthetic data (every nation has suppliers, but not every nation
    has a rich one), so the check discriminates EXCEPT from EXCEPT ALL/noop.
    """
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)


# --------------------------------------------------------------------------
# CTEs / subqueries — expressed through spark.sql (the SQL front door)
# --------------------------------------------------------------------------


@register(
    "cte_vs_company_avg",
    f"""
    WITH seg_avg AS (
        SELECT c_mktsegment,
               CAST(SUM({_c('c_acctbal')}) AS BIGINT) / (CAST(100.0 AS DOUBLE) * COUNT(*)) AS seg_bal
        FROM customer GROUP BY c_mktsegment
    ),
    overall AS (
        SELECT CAST(SUM({_c('c_acctbal')}) AS BIGINT) / (CAST(100.0 AS DOUBLE) * COUNT(*)) AS all_bal
        FROM customer
    )
    SELECT s.c_mktsegment AS c_mktsegment,
           s.seg_bal AS seg_bal,
           o.all_bal AS all_bal,
           s.seg_bal - o.all_bal AS diff
    FROM seg_avg s CROSS JOIN overall o
    """,
)
def cte_vs_company_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH … CROSS JOIN — the reference's dept-vs-company-average report
    (example_test.go:777-807; README.md:433-452)."""
    load_views(spark, sf_dir)
    return spark.sql(
        """
        WITH seg_avg AS (
            SELECT c_mktsegment,
                   CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                       / (CAST(100.0 AS DOUBLE) * COUNT(*)) AS seg_bal
            FROM customer GROUP BY c_mktsegment
        ),
        overall AS (
            SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                       / (CAST(100.0 AS DOUBLE) * COUNT(*)) AS all_bal
            FROM customer
        )
        SELECT s.c_mktsegment AS c_mktsegment,
               s.seg_bal AS seg_bal,
               o.all_bal AS all_bal,
               s.seg_bal - o.all_bal AS diff
        FROM seg_avg s CROSS JOIN overall o
        """
    )


@register(
    "derived_table",
    f"""
    SELECT bucket, COUNT(*) AS n,
           CAST(SUM(total_cents) AS BIGINT) / (CAST(100.0 AS DOUBLE) * COUNT(*)) AS avg_total
    FROM (
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               SUM({_c('o_totalprice')}) AS total_cents,
               CASE WHEN COUNT(*) >= 10 THEN 'frequent' ELSE 'occasional' END AS bucket
        FROM orders GROUP BY o_custkey
    ) t
    GROUP BY bucket
    """,
)
def derived_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM (SELECT …) derived table (filesql_test.go:248)."""
    load_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT bucket, COUNT(*) AS n,
               CAST(SUM(total_cents) AS BIGINT) / (CAST(100.0 AS DOUBLE) * COUNT(*)) AS avg_total
        FROM (
            SELECT o_custkey,
                   COUNT(*) AS n_orders,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS total_cents,
                   CASE WHEN COUNT(*) >= 10 THEN 'frequent' ELSE 'occasional' END AS bucket
            FROM orders GROUP BY o_custkey
        ) t
        GROUP BY bucket
        """
    )


@register(
    "scalar_subquery_correlated",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def scalar_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery in WHERE (filesql.go doc :69-73);
    Catalyst decorrelates to an aggregate+join."""
    load_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                             WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


@register(
    "scalar_subquery_select",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           (CAST(100.0 AS DOUBLE) * COUNT(*)) / (SELECT COUNT(*) FROM orders) AS pct
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def scalar_subquery_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in SELECT (example_test.go:1042)."""
    load_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               (CAST(100.0 AS DOUBLE) * COUNT(*)) / (SELECT COUNT(*) FROM orders) AS pct
        FROM orders
        GROUP BY o_orderpriority
        """
    )


@register(
    "in_subquery",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey IN (SELECT n_nationkey FROM nation n
                          JOIN region r ON n.n_regionkey = r.r_regionkey
                          WHERE r.r_name = 'ASIA')
    """,
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) predicate (SURVEY §2.B predicates)."""
    load_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey IN (SELECT n_nationkey FROM nation n
                              JOIN region r ON n.n_regionkey = r.r_regionkey
                              WHERE r.r_name = 'ASIA')
        """
    )


@register(
    "agg_rollup",
    f"""
    SELECT COALESCE(r.r_name, '__all__') AS region,
           COALESCE(n.n_name, '__all__') AS nation,
           COUNT(c.c_custkey) AS n_customers,
           CAST(SUM({_c('c.c_acctbal')}) AS BIGINT) / 100.0 AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — beyond the reference (SQLite has no grouping
    sets, SURVEY §2.B notes them out of contract; Spark and DuckDB both
    support them natively)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            (F.sum(cents("c_acctbal")) / 100.0).alias("total_bal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("__all__")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("__all__")).alias("nation"),
            "n_customers",
            "total_bal",
        )
    )


@register(
    "agg_median",
    f"""
    SELECT o_orderpriority,
           quantile_cont({_c('o_totalprice')}, 0.5) / 100.0 AS median_price,
           CAST(MIN({_c('o_totalprice')}) AS BIGINT) / 100.0 AS min_price,
           CAST(MAX({_c('o_totalprice')}) AS BIGINT) / 100.0 AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median + MIN/MAX over integer cents.

    percentile (Spark) and quantile_cont (DuckDB) share the linear-
    interpolation definition; over exact integers the interpolation is one
    deterministic float expression on both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    tc = cents("o_totalprice")
    return o.groupBy("o_orderpriority").agg(
        (F.percentile(tc, F.lit(0.5)) / 100.0).alias("median_price"),
        (F.min(tc) / 100.0).alias("min_price"),
        (F.max(tc) / 100.0).alias("max_price"),
    )


@register(
    "recursive_cte",
    """
    WITH RECURSIVE seq(n, total) AS (
        SELECT 1, 1
        UNION ALL
        SELECT n + 1, total + n + 1 FROM seq WHERE n < 15
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total FROM seq
    """,
)
def recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (SQLite dialect, doc.go:72) — Spark SQL lacks it, so
    the engine emulates it by semi-naive delta iteration with lineage
    checkpointing (filesql_spark/recursive.py). DuckDB runs the same
    statement natively as the oracle."""
    from filesql_spark.recursive import run_recursive

    sql = """
    WITH RECURSIVE seq(n, total) AS (
        SELECT 1, 1
        UNION ALL
        SELECT n + 1, total + n + 1 FROM seq WHERE n < 15
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total FROM seq
    """
    from filesql_spark import dialect
    from filesql_spark.json1 import register_udfs

    register_udfs(spark)  # the CASTs call the dialect's session functions
    return run_recursive(spark, sql, dialect.rewrite)


# --------------------------------------------------------------------------
# Scalar functions (string / math / date / json)
# --------------------------------------------------------------------------


@register(
    "string_functions",
    """
    SELECT p_partkey,
           UPPER(p_name)                        AS upper_name,
           LOWER(p_brand)                       AS lower_brand,
           CAST(LENGTH(p_name) AS INTEGER)      AS name_len,
           SUBSTR(p_name, 1, 5)                 AS name_prefix,
           CAST(STRPOS(p_name, 'a') AS INTEGER) AS a_pos,
           REPLACE(p_type, ' ', '_')            AS type_slug,
           TRIM(CONCAT(p_brand, ' ', p_type))   AS brand_type
    FROM part
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTR/UPPER/LOWER/LENGTH/INSTR/REPLACE/TRIM/|| (example_test.go:830-843).

    SQLite INSTR ≡ Spark locate/instr ≡ DuckDB strpos.
    """
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.lower("p_brand").alias("lower_brand"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.instr("p_name", "a").cast("int").alias("a_pos"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_slug"),
        F.trim(F.concat("p_brand", F.lit(" "), "p_type")).alias("brand_type"),
    )


@register(
    "math_functions",
    f"""
    SELECT l_orderkey, l_linenumber,
           {_c('l_extendedprice')} * (100 - {_c('l_discount')}) / 10000.0 AS net,
           ABS(l_discount - 0.05)                       AS disc_dev,
           PRINTF('%.2f', l_extendedprice)              AS price_str
    FROM lineitem
    WHERE l_linenumber = 1
    """,
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUND/ABS/PRINTF (SQLite printf ≡ Spark format_string ≡ DuckDB printf).

    net is the exact 4-decimal cents product; disc_dev is the same IEEE
    subtraction on both engines (bit-identical inputs).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        "l_linenumber",
        (cents("l_extendedprice") * (100 - cents("l_discount")) / 10000.0).alias("net"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.format_string("%.2f", "l_extendedprice").alias("price_str"),
    )


@register(
    "date_functions",
    f"""
    SELECT strftime(o_orderdate, '%Y-%m')           AS order_month,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)  AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_mon,
           COUNT(*) AS n,
           CAST(SUM({_c('o_totalprice')}) AS BIGINT) / 100.0 AS total
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strftime('%Y-%m') monthly rollup (example_test.go:1137) ≡ date_format."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_mon"),
    ).agg(
        F.count("*").alias("n"),
        (F.sum(cents("o_totalprice")) / 100.0).alias("total"),
    )


@register(
    "date_julianday_span",
    """
    SELECT l_returnflag,
           (epoch_us(MAX(l_shipdate)) - epoch_us(MIN(l_shipdate)))
                 / 86400000000.0 AS span_days
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def date_julianday_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """julianday(max)-julianday(min) day-span arithmetic (example_test.go:418),
    expressed as integer epoch-microseconds difference — exact fractional days."""
    li = load_table(spark, sf_dir, "lineitem")
    # parquet ms-timestamps load as TIMESTAMP_NTZ; cast is identity under UTC
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        ((us(F.max("l_shipdate")) - us(F.min("l_shipdate"))) / 86400000000.0).alias(
            "span_days"
        )
    )


@register(
    "date_hour_histogram",
    f"""
    SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour_of_day,
           COUNT(*) AS n_events,
           CAST(SUM({_c('value')}) AS BIGINT) / (100.0 * COUNT(value)) AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def date_hour_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAST(strftime('%H',ts) AS INTEGER) hourly histogram (example_test.go:1069)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.hour("ts").alias("hour_of_day")).agg(
        F.count("*").alias("n_events"),
        (F.sum(cents("value")) / (100.0 * F.count("value"))).alias("avg_value"),
    )


@register(
    "json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               / CAST(COUNT(json_extract_string(props, '$.k')) AS DOUBLE) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_extract (README.md:331; doc.go:74) ≡ get_json_object."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        (F.sum(k) / F.count(k).cast("double")).alias("avg_k")
    )


@register(
    "events_tumbling_window",
    f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM({_c('value')}) AS BIGINT) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window aggregate over the events table.

    Batch shape of the Structured Streaming operator (same F.window call works
    under readStream with a watermark — see filesql_spark/streaming/).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# shared with the streaming twin (pipeline_queries.streaming_events_sessionize)
SESSIONIZE_ORACLE = f"""
    WITH x AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    s AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM x
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM({_c('value')}) AS BIGINT) / 100.0 AS total_value,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS session_us
    FROM s GROUP BY user_id, sid
    """


@register("events_sessionize", SESSIONIZE_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap — the
    training-pipeline sessionization operator (beyond-reference; the
    reference has no streaming/session surface, SURVEY §2.10).

    Spark side: native ``session_window`` (merges overlapping [ts, ts+gap)
    intervals per group — one shuffle on user_id, state mergeable, the same
    plan runs under Structured Streaming with a watermark). Oracle: the
    equivalent gaps-and-islands formulation (LAG ≥ gap starts an island;
    running SUM numbers it). Boundary semantics match: Spark's interval is
    half-open, so a gap of exactly 30:00 starts a new session — the oracle
    uses ``>=``.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
            (
                F.unix_micros(F.col("last_ts").cast("timestamp"))
                - F.unix_micros(F.col("w.start").cast("timestamp"))
            ).alias("session_us"),
        )
    )


@register(
    "asof_join_latest_order",
    """
    WITH ranked AS (
        SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id, ts,
           o_orderkey AS last_orderkey,
           o_totalprice AS last_order_price
    FROM ranked WHERE rn = 1
    """,
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each event matched to the customer's most recent order
    at-or-before the event time (beyond-reference; the standard time-series
    enrichment operator).

    Scale design — the union-merge pattern, NOT a theta join: a theta join
    ``o_custkey = user_id AND o_orderdate <= ts`` explodes to every
    (event, earlier-order) pair before ranking (quadratic per key at
    100 TB). Instead, union both inputs tagged, sort within one hash
    shuffle on the key, and propagate the latest order columns to each
    event row with last(ignoreNulls) over a running frame — O(n log n) per
    partition, one shuffle, no pair blow-up. Ties: orders sort before
    events at the same timestamp (an order exactly at ts is visible), and
    by o_orderkey so equal-date orders resolve to the max key — the
    oracle's explicit ROW_NUMBER spec.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(1).alias("is_evt"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_totalprice",
        F.lit(0).alias("is_evt"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_evt", F.col("o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        e.unionByName(o)
        .withColumn("last_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn(
            "last_order_price", F.last("o_totalprice", ignorenulls=True).over(w)
        )
    )
    return (
        merged.filter((F.col("is_evt") == 1) & F.col("last_orderkey").isNotNull())
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.col("t").alias("ts"),
            "last_orderkey",
            "last_order_price",
        )
    )


@register(
    "events_sliding_window",
    f"""
    WITH ex AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                   - (k.k * INTERVAL '15 minutes') AS window_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
    )
    SELECT window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM({_c('value')}) AS BIGINT) / 100.0 AS total_value
    FROM ex GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregate: 1-hour windows every 15 minutes.

    Spark's window(ts, '1 hour', '15 minutes') fans each event into 4
    overlapping windows (a generator, map-side — the fan-out collapses in
    the partial aggregation, so only group rows shuffle). The oracle
    reproduces the fan-out explicitly: each event's 4 window starts are
    floor15(ts) − k·15min, k = 0..3 (both engines' buckets are
    epoch-aligned for 15-minute periods).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )


@register(
    "agg_grouping_sets",
    f"""
    SELECT COALESCE(r.r_name, '__all__') AS region,
           COALESCE(n.n_name, '__all__') AS nation,
           COUNT(c.c_custkey) AS n_customers,
           CAST(SUM({_c('c.c_acctbal')}) AS BIGINT) / 100.0 AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r.r_name, n.n_name), (r.r_name), (n.n_name), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind ROLLUP/CUBE
    (beyond the reference: SQLite has no grouping sets, SURVEY §2.B).
    One shuffle: Spark expands the four sets map-side (Expand node) and
    aggregates them in a single pass, same as ROLLUP. The name columns
    are NULL-free in the data, so the '__all__' coalesce marker is
    unambiguous without grouping_id."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupingSets(
            [["r_name", "n_name"], ["r_name"], ["n_name"], []],
            "r_name",
            "n_name",
        )
        .agg(
            F.count("c_custkey").alias("n_customers"),
            (F.sum(cents("c_acctbal")) / 100.0).alias("total_bal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("__all__")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("__all__")).alias("nation"),
            "n_customers",
            "total_bal",
        )
    )


@register(
    "agg_cube",
    f"""
    SELECT COALESCE(o_orderpriority, '__all__') AS priority,
           COALESCE(o_orderstatus, '__all__') AS status,
           COUNT(*) AS n_orders,
           CAST(SUM({_c('o_totalprice')}) AS BIGINT) / 100.0 AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over priority × status — all four grouping sets in
    one Expand + single-shuffle aggregation (beyond the reference)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(cents("o_totalprice")) / 100.0).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("__all__")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("__all__")).alias("status"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "pivot_status_by_priority",
    f"""
    SELECT o_orderpriority AS priority,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN {_c('o_totalprice')} ELSE 0 END) AS BIGINT) / 100.0 AS open_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order-status categories widened to columns per priority.

    The explicit value list ('O','F','P') keeps the plan a single
    groupBy-aggregate (no extra distinct-values job, stable schema) —
    the form to use at 100 TB; Spark's value-discovering pivot overload
    runs an eager distinct first. The oracle is the equivalent
    conditional aggregation (DuckDB's PIVOT is syntax sugar for the
    same)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),  # count(*) is rejected inside Pivot
            F.sum(cents("o_totalprice")).alias("cents"),
        )
        .select(
            "priority",
            F.coalesce("O_n", F.lit(0)).alias("n_open"),
            F.coalesce("F_n", F.lit(0)).alias("n_finished"),
            F.coalesce("P_n", F.lit(0)).alias("n_pending"),
            (F.coalesce("O_cents", F.lit(0)) / 100.0).alias("open_total"),
        )
    )


@register(
    "window_percent_rank",
    """
    SELECT o_orderkey,
           o_orderpriority,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           ntile(10) OVER w AS decile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / decile ntile over a totally-ordered
    window (o_orderkey tie-break ⇒ identical ranks on both engines;
    each value is a single IEEE division of exact integer ranks)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


@register(
    "window_range_interval",
    """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS cents_last_hour
    FROM (SELECT event_id, user_id, value,
                 epoch_us(ts) // 1000000 AS sec
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window over event time: per event, how many events
    (and how much value) the same user produced in the preceding hour —
    the rate/velocity feature a fraud or engagement pipeline computes.

    ROWS frames count rows; this is a true VALUE-range frame
    (``rangeBetween`` on integer epoch seconds, peers included), the
    window-frame family member SURVEY §2.B's frame row didn't yet
    exercise. One shuffle on user_id; integer-cents SUM keeps the frame
    aggregate order-independent, and truncated whole seconds make the
    frame boundary identical in both engines.
    """
    e = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return e.select("event_id", "user_id", sec.alias("sec"), cents("value").alias("cts")).select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.sum("cts").over(w).alias("cents_last_hour"),
    )


@register(
    "scd2_user_tier",
    """
    WITH t AS (
        SELECT user_id, ts, event_id,
               CASE WHEN value >= 100 THEN 'high' ELSE 'low' END AS tier
        FROM events
    ),
    x AS (
        SELECT user_id, ts, event_id, tier,
               CASE WHEN tier IS DISTINCT FROM
                         LAG(tier) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS chg
        FROM t
    ),
    runs AS (
        SELECT user_id, ts, tier,
               CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        FROM x
    ),
    iv AS (
        SELECT user_id, version, tier,
               MIN(ts) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, version, tier
    )
    SELECT user_id, version, tier, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to,
           n_events
    FROM iv
    """,
)
def scd2_user_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build — collapse a change
    stream into validity intervals: per user, consecutive runs of the
    same derived attribute ("tier" = value band of each event) become
    one versioned row with [valid_from, valid_to), open-ended for the
    current version. The CDC→dimension-history operator a warehouse
    maintains from an event feed.

    Gaps-and-islands: LAG marks change points, a running SUM numbers the
    runs (exact integers), one groupBy collapses them, LEAD closes each
    interval with the next run's start. One shuffle on user_id — every
    window and the aggregate reuse the same partitioning.
    """
    e = load_table(spark, sf_dir, "events")
    tier = F.when(F.col("value") >= 100, "high").otherwise("low")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = order_w.rowsBetween(Window.unboundedPreceding, 0)
    runs = (
        e.select("user_id", "ts", "event_id", tier.alias("tier"))
        .withColumn(
            "chg",
            F.when(
                ~F.col("tier").eqNullSafe(F.lag("tier").over(order_w)), 1
            ).otherwise(0),
        )
        .withColumn("version", F.sum("chg").over(run_w))
    )
    iv = runs.groupBy("user_id", "version", "tier").agg(
        F.min("ts").alias("valid_from"), F.count("*").alias("n_events")
    )
    lead_w = Window.partitionBy("user_id").orderBy("version")
    return iv.select(
        "user_id",
        "version",
        "tier",
        "valid_from",
        F.lead("valid_from").over(lead_w).alias("valid_to"),
        "n_events",
    )


@register(
    "events_funnel",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    ),
    counts AS (
        SELECT CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
               CAST(COUNT(CASE WHEN t_click > t_signup THEN 1 END) AS BIGINT)
                   AS n_click,
               CAST(COUNT(CASE WHEN t_click > t_signup AND t_purchase > t_click
                          THEN 1 END) AS BIGINT) AS n_purchase
        FROM firsts
    )
    SELECT step, n_users,
           CAST(n_users AS DOUBLE) / NULLIF(prev_users, 0) AS conversion
    FROM (
        SELECT 1 AS step_no, 'signup' AS step, n_signup AS n_users,
               n_signup AS prev_users FROM counts
        UNION ALL
        SELECT 2, 'click', n_click, n_signup FROM counts
        UNION ALL
        SELECT 3, 'purchase', n_purchase, n_click FROM counts
    ) ORDER BY step_no
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → click → purchase): a user
    counts at step k only if their FIRST step-k event follows their
    first step-(k-1) event — the product-analytics funnel, as one
    conditional-aggregation pass.

    One shuffle (groupBy user collapses each user's history to three
    first-times), then a single-row aggregate fanned back out to one row
    per step — no self-joins, no window over the raw stream, scales as a
    plain two-level aggregation. Conversion is one IEEE division of
    exact counts.
    """
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    counts = firsts.agg(
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1)).alias("n_click"),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_signup"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_purchase"),
    )
    steps = counts.selectExpr(
        "stack(3, "
        "1, 'signup', n_signup, n_signup, "
        "2, 'click', n_click, n_signup, "
        "3, 'purchase', n_purchase, n_click) "
        "AS (step_no, step, n_users, prev_users)"
    )
    return steps.select(
        "step",
        "n_users",
        (F.col("n_users").cast("double") / F.nullif("prev_users", F.lit(0))).alias(
            "conversion"
        ),
    ).orderBy("step_no").drop("step_no")


@register(
    "events_retention_cohorts",
    """
    WITH d AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
        FROM events
    ),
    activity AS (SELECT DISTINCT user_id, cohort_day, day FROM d)
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(day - cohort_day AS BIGINT) AS offset_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users bucketed by their first-activity
    day, counted on each later day they return — the (cohort, offset)
    triangle a growth dashboard plots.

    One shuffle on user_id serves both the cohort-day window and the
    per-day distinct; the final groupBy is over the tiny (cohort,
    offset) grid. Exact date arithmetic on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = Window.partitionBy("user_id")
    activity = (
        e.select("user_id", day.alias("day"))
        .withColumn("cohort_day", F.min("day").over(w))
        .distinct()
    )
    return activity.groupBy(
        F.col("cohort_day").cast("string").alias("cohort_day"),
        F.datediff("day", "cohort_day").cast("long").alias("offset_days"),
    ).agg(F.count("*").alias("n_users"))


@register(
    "events_markov_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p
    FROM t
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral-model feature (what follows what, how
    often) a sequence model or anomaly detector trains on. One shuffle
    on user_id orders each user's history (LAG), the bigram counts
    collapse map-side into a |types|² matrix, and the row-normalized
    probability is one IEEE division of exact counts.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    row = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(row).cast("long")).alias("p"),
    )


@register(
    "customers_rfm_segments",
    """
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               MAX(o_orderdate) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT custkey, frequency, monetary_cents,
               NTILE(4) OVER (ORDER BY last_order DESC, custkey) AS r_quartile,
               NTILE(4) OVER (ORDER BY frequency DESC, custkey) AS f_quartile,
               NTILE(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m_quartile
        FROM rfm
    )
    SELECT CAST(r_quartile AS BIGINT) AS r_quartile,
           CAST(f_quartile AS BIGINT) AS f_quartile,
           CAST(m_quartile AS BIGINT) AS m_quartile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY 1, 2, 3
    """,
)
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation: customers
    quartiled on each exact aggregate, then counted per (R,F,M) cell —
    the 64-segment marketing cube. NTILE over a totally-ordered window
    (custkey tie-break ⇒ identical quartiles on both engines); one
    shuffle for the per-customer aggregate; the three global NTILEs run
    on the compact per-customer table. Exact integer cents throughout.

    Scale note: a global NTILE is a single task over the per-customer
    table — fine up to ~10⁷ customers; for a billion-customer table,
    derive the quartile thresholds from the mergeable
    ``histogram_quantiles`` sketch and broadcast-join them instead.
    """
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(cents("o_totalprice")).alias("monetary_cents"),
    )
    scored = rfm.select(
        "custkey",
        "frequency",
        "monetary_cents",
        F.ntile(4)
        .over(Window.orderBy(F.col("last_order").desc(), "custkey"))
        .alias("r_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.col("frequency").desc(), "custkey"))
        .alias("f_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.col("monetary_cents").desc(), "custkey"))
        .alias("m_quartile"),
    )
    return scored.groupBy(
        F.col("r_quartile").cast("long").alias("r_quartile"),
        F.col("f_quartile").cast("long").alias("f_quartile"),
        F.col("m_quartile").cast("long").alias("m_quartile"),
    ).agg(
        F.count("*").alias("n_customers"),
        F.sum("monetary_cents").alias("segment_cents"),
    )


def _rfm_sketch_oracle() -> str:
    # identical integer logic; DuckDB may use windows for the cumulative
    # histogram — only the VALUES must match, the Spark plan is the one
    # that has to stay window-free
    thr = """
    {m}_hist AS (
        SELECT {expr} // {w} AS bin, CAST(COUNT(*) AS BIGINT) AS c
        FROM rfm GROUP BY 1
    ),
    {m}_cum AS (
        SELECT bin,
               CAST(SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM {m}_hist
    ),
    {m}_thr AS (
        SELECT MIN(CASE WHEN cum >= (25 * n + 99) // 100 THEN bin END) AS t25,
               MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN bin END) AS t50,
               MIN(CASE WHEN cum >= (75 * n + 99) // 100 THEN bin END) AS t75
        FROM {m}_cum
    )"""
    quart = (
        "CASE WHEN {b} > {m}_thr.t75 THEN 1 WHEN {b} > {m}_thr.t50 THEN 2 "
        "WHEN {b} > {m}_thr.t25 THEN 3 ELSE 4 END"
    )
    return (
        """
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               datediff('day', DATE '1970-01-01', MAX(o_orderdate))::BIGINT
                   AS r_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),"""
        + thr.format(m="r", expr="r_days", w=1)
        + ","
        + thr.format(m="f", expr="frequency", w=1)
        + ","
        + thr.format(m="mo", expr="monetary_cents", w=100000)
        + f"""
    SELECT CAST({quart.format(b="r_days", m="r")} AS BIGINT) AS r_quartile,
           CAST({quart.format(b="frequency", m="f")} AS BIGINT) AS f_quartile,
           CAST({quart.format(b="monetary_cents // 100000", m="mo")} AS BIGINT)
               AS m_quartile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM rfm, r_thr, f_thr, mo_thr
    GROUP BY 1, 2, 3
    """
    )


@register(
    "customers_rfm_sketch",
    _rfm_sketch_oracle(),
)
def customers_rfm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with SKETCH-DERIVED quartile thresholds — the
    scale-out variant ``customers_rfm_segments``'s docstring promises:
    no global NTILE (a single task over the per-customer table at 10⁹
    customers). Instead all three metrics' quartile boundaries come from
    ONE stacked fixed-bin histogram pass — (metric, bin) counts, same
    mergeable construction as ``sketch.histogram_quantiles`` — the
    cumulative histogram is a bounded broadcast self-join, and the single
    1-row nine-threshold frame is broadcast back so quartile assignment
    is a pure per-row comparison. The plan contains NO window operator at
    all (asserted in test_plan_shapes) — one shuffle for the per-customer
    aggregate, one for the stacked histogram, map-side work for
    everything else.

    Quartiles are value-based at bin resolution (customers tied in one
    bin share a quartile), vs NTILE's position-based equal-count cells —
    the documented trade for unbounded scale; both engines reproduce the
    identical integer logic bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    rfm = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(cents("o_totalprice")).alias("monetary_cents"),
        )
        .withColumn("r_days", F.datediff("last_order", F.lit("1970-01-01")).cast("long"))
    )
    # all three metric histograms in ONE stacked pass (metric, bin):
    # 3 rows per customer in, a bounded-bin table out — one shuffle where
    # the per-metric formulation paid three. Fully lazy on purpose: the
    # two rfm consumers (histogram + scoring) pipeline better than any
    # materialization barrier (A/B-measured 4.3 s → 1.9 s at sf0.1;
    # persist() 7.6 s, localCheckpoint 2.4 s, lazy 1.9 s — the bin-width
    # fix from \$10 to \$1000 monetary bins is the other half: 15k bins
    # made the cumulative self-join quadratic-large)
    stacked = rfm.selectExpr(
        "explode(array("
        " named_struct('metric', 'r', 'bin', r_days),"
        " named_struct('metric', 'f', 'bin', frequency),"
        " named_struct('metric', 'm', 'bin', monetary_cents div 100000)"
        ")) AS mb"
    ).select(F.col("mb.metric").alias("metric"), F.col("mb.bin").alias("bin"))
    hist = (
        stacked.groupBy("metric", "bin")
        .agg(F.count("*").alias("c"))
    )
    a, b = hist.alias("a"), hist.alias("b")
    cum = (
        a.join(
            F.broadcast(b),
            (F.col("a.metric") == F.col("b.metric"))
            & (F.col("b.bin") <= F.col("a.bin")),
        )
        .groupBy(F.col("a.metric").alias("metric"), F.col("a.bin").alias("bin"))
        .agg(F.sum("b.c").alias("cum"))
    )
    tot = hist.groupBy("metric").agg(F.sum("c").alias("n"))
    thr3 = (
        cum.join(F.broadcast(tot), "metric")
        .groupBy("metric")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") >= F.expr(f"({q} * n + 99) div 100"),
                        F.col("bin"),
                    )
                ).alias(f"t{q}")
                for q in (25, 50, 75)
            ]
        )
    )
    # pivot the 3 metric rows into one 9-column threshold row
    thr = thr3.agg(
        *[
            F.first(F.when(F.col("metric") == m, F.col(f"t{q}")), ignorenulls=True)
            .alias(f"{m}_t{q}")
            for m in ("r", "f", "m")
            for q in (25, 50, 75)
        ]
    )

    def quart(bin_expr: str, m: str):
        return (
            F.when(F.expr(bin_expr) > F.col(f"{m}_t75"), 1)
            .when(F.expr(bin_expr) > F.col(f"{m}_t50"), 2)
            .when(F.expr(bin_expr) > F.col(f"{m}_t25"), 3)
            .otherwise(4)
            .cast("long")
        )

    return (
        rfm.crossJoin(F.broadcast(thr))
        .groupBy(
            quart("r_days", "r").alias("r_quartile"),
            quart("frequency", "f").alias("f_quartile"),
            quart("monetary_cents div 100000", "m").alias("m_quartile"),
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
    )


# --------------------------------------------------------------------------
# Banded interval join (batch): the scale path for time-window theta joins
# --------------------------------------------------------------------------


_IVJ_DELTA_US = 600_000_000  # 10 minutes, microseconds


@register(
    "interval_join_banded",
    f"""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS dt_us
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND epoch_us(p.ts) - epoch_us(v.ts) BETWEEN 0 AND {_IVJ_DELTA_US}
    """,
)
def interval_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval join — each view matched to the same user's
    purchases within the next 10 minutes — WITHOUT the nested-loop
    theta join the naive formulation produces.

    Band trick: bucket both sides by floor(ts / Δ); a right row in
    [tl, tl+Δ] can only sit in the left row's bucket or the next one, so
    the left side probes {b, b+1} (a 2× explode of the SMALL projection,
    not the payload) and the join is a pure equi-join on
    (user_id, bucket) with a residual range filter. One hash shuffle on
    a compound key; no BroadcastNestedLoopJoin at any scale
    (plan-asserted). Contrast with `join_theta_selfjoin` (the BNLJ
    shape kept for dialect parity) and `streaming_interval_join` (the
    watermarked streaming twin).
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    v = (
        e.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            us.alias("v_us"),
            F.expr(f"unix_micros(ts) div {_IVJ_DELTA_US}").alias("b"),
        )
        .withColumn("probe_b", F.explode(F.array(F.col("b"), F.col("b") + 1)))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        us.alias("p_us"),
        F.expr(f"unix_micros(ts) div {_IVJ_DELTA_US}").alias("p_b"),
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user")) & (F.col("probe_b") == F.col("p_b")),
        )
        .filter(
            (F.col("p_us") - F.col("v_us") >= 0)
            & (F.col("p_us") - F.col("v_us") <= _IVJ_DELTA_US)
        )
        .select(
            "view_id",
            "purchase_id",
            (F.col("p_us") - F.col("v_us")).cast("long").alias("dt_us"),
        )
    )


@register(
    "events_gap_fill",
    """
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
        FROM events WHERE user_id % 50 = 0
        GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
        SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    joined AS (
        SELECT g.user_id, g.h,
               COALESCE(hh.n_events, 0) AS n_events, hh.v_cents
        FROM grid g LEFT JOIN hourly hh
          ON g.user_id = hh.user_id AND g.h = hh.h
    )
    SELECT user_id, h,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(LAST_VALUE(v_cents IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) / 100.0 AS filled_value
    FROM joined
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per user (2% id-sample), an hourly
    grid from first to last activity with the hours that saw no events
    FILLED FORWARD from the last observed hourly total — the asfreq +
    ffill step every metrics/feature pipeline runs before training or
    anomaly scoring on regular series.

    Spark shape: hourly aggregate (one shuffle) → per-user bounds →
    ``sequence()`` + explode to materialize each user's grid (bounded by
    the user's own activity span, not the global one) → left join back
    → ``last(ignoreNulls)`` running window per user. Windows partition
    by user, so parallelism survives any user count; grid size is
    span-bounded per user, so no user inflates another's output."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents("value")).alias("v_cents"),
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "h",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        (F.last("v_cents", ignorenulls=True).over(w) / 100.0).alias(
            "filled_value"
        ),
    )


@register(
    "events_robust_stats",
    """
    WITH v AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
    ),
    hist AS (
        SELECT event_type, c // 100 AS bin, CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY event_type, c // 100
    ),
    cum AS (
        SELECT a.event_type, a.bin, CAST(SUM(b.n) AS BIGINT) AS cum
        FROM hist a JOIN hist b
          ON a.event_type = b.event_type AND b.bin <= a.bin
        GROUP BY a.event_type, a.bin
    ),
    tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n FROM hist GROUP BY event_type),
    thr AS (
        SELECT c.event_type,
               MIN(CASE WHEN cum >= (5 * t.n + 99) // 100 THEN bin END) * 100 AS lo,
               (MIN(CASE WHEN cum >= (95 * t.n + 99) // 100 THEN bin END) + 1) * 100 - 1 AS hi
        FROM cum c JOIN tot t USING (event_type) GROUP BY c.event_type
    )
    SELECT v.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN v.c < thr.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
           CAST(SUM(CASE WHEN v.c > thr.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
           CAST(SUM(LEAST(GREATEST(v.c, thr.lo), thr.hi)) AS BIGINT) AS winsor_sum_cents,
           CAST(SUM(LEAST(GREATEST(v.c, thr.lo), thr.hi)) AS BIGINT)
               / (100.0 * COUNT(*)) AS winsor_mean
    FROM v JOIN thr USING (event_type)
    GROUP BY v.event_type
    """,
)
def events_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) per-type value statistics — the
    robust-aggregation step that stops a handful of outlier rows from
    dominating a mean at 100 TB. The clip thresholds come from the same
    mergeable fixed-bin histogram construction as ``customers_rfm_sketch``
    ($1 bins over exact cents; bounded bin count by value range, not row
    count), the per-type (lo, hi) frame is broadcast back, and the
    clipped sum is exact integer arithmetic — no sort, no percentile
    shuffle, bit-identical on both engines."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type", cents("value").alias("c"))
    hist = v.groupBy("event_type", F.expr("c div 100").alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a, b = hist.alias("a"), hist.alias("b")
    cum = (
        a.join(
            F.broadcast(b),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.bin") <= F.col("a.bin")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), F.col("a.bin").alias("bin"))
        .agg(F.sum("b.n").alias("cum"))
    )
    tot = hist.groupBy("event_type").agg(F.sum("n").alias("n"))
    thr = (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            (
                F.min(
                    F.when(F.col("cum") >= F.expr("(5 * n + 99) div 100"), F.col("bin"))
                )
                * 100
            ).alias("lo"),
            (
                (
                    F.min(
                        F.when(
                            F.col("cum") >= F.expr("(95 * n + 99) div 100"),
                            F.col("bin"),
                        )
                    )
                    + 1
                )
                * 100
                - 1
            ).alias("hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi"))
    return (
        v.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("c") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("c") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_hi"),
            F.sum(clipped).alias("winsor_sum_cents"),
            (F.sum(clipped) / (100.0 * F.count(F.lit(1)))).alias("winsor_mean"),
        )
    )


@register(
    "window_nth_last_value",
    """
    SELECT o_orderkey, o_custkey,
           LAST_VALUE(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS latest_price,
           NTH_VALUE(o_totalprice, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price
    FROM orders
    """,
)
def window_nth_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST_VALUE / NTH_VALUE over the whole partition (SQLite window
    functions, SURVEY §2.B) — both pinned to an explicit
    UNBOUNDED-UNBOUNDED frame because the default frame ends at the
    current row, which silently turns LAST_VALUE into "current value"
    (the classic window-function trap; the explicit frame gives the
    per-customer latest and second-ever order price). Partitioned by
    customer — parallel, never a global window. Raw value passthrough,
    bit-exact."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.last("o_totalprice").over(w).alias("latest_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_c('l.l_extendedprice')} * (100 - {_c('l.l_discount')})) AS BIGINT)
               / 10000.0 AS revenue,
           CAST({_c('c.c_acctbal')} AS BIGINT) / 100.0 AS c_acctbal,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting, adapted to the driver schema's
    columns): who returned the most revenue in a quarter. The
    optimizer showcase for join ordering — the date filter prunes orders
    at the scan (PushedFilters), the returnflag filter prunes lineitem,
    the filtered orders↔lineitem join shuffles only survivors, and the
    customer/nation dimensions broadcast. Revenue is the exact
    cents×cent-percent integer sum (÷10⁴ once at the end), and the
    top-20 is a TakeOrderedAndProject with c_custkey tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = F.sum(
        cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    ).cast("long") / 10000.0
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(rev.alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            (cents("c_acctbal").cast("long") / 100.0).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Round-7c additions (graded from the r8 window; see queries/__init__.py
# _HOLD_AFTER_R4 — the r7 slots were committed to the r4-stale backlog)
# --------------------------------------------------------------------------


@register(
    "q14_promo_revenue",
    f"""
    WITH j AS (
        SELECT {_c('l_extendedprice')} * (100 - {_c('l_discount')}) AS rev4,
               p_type
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    )
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev4
                                      ELSE 0 END) AS BIGINT) AS DOUBLE)
               / CAST(SUM(rev4) AS BIGINT) AS promo_pct,
           CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev4 ELSE 0 END)
                AS BIGINT) / 10000.0 AS promo_revenue,
           CAST(SUM(rev4) AS BIGINT) / 10000.0 AS total_revenue
    FROM j
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect), adapted to the driver schema — the
    share of one month's discounted revenue from PROMO-type parts.

    Reference contract: filesql delegates this SELECT shape (join +
    conditional aggregate arithmetic) to SQLite (builder.go:353-361); we
    express it as one DataFrame plan.

    100-TB design: the one-month shipdate range is pushed into the
    lineitem scan (PushedFilters prunes ~99% of the fact table before
    the join); `part` is a dimension and is explicitly broadcast, so the
    only shuffle is the final single-group aggregate, which combines
    map-side into one row per task. Both sums are exact integers in
    1e-4 dollar units (cents × cent-percent); the percentage is computed
    by ONE IEEE division of those exact integers, so the hash is
    bit-stable across engines and partition orders."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    promo4 = F.when(F.col("p_type").startswith("PROMO"), rev4).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(promo4).cast("long").alias("promo4"),
            F.sum(rev4).cast("long").alias("total4"),
        )
        .select(
            (F.lit(100.0) * F.col("promo4").cast("double") / F.col("total4"))
            .alias("promo_pct"),
            (F.col("promo4") / 10000.0).alias("promo_revenue"),
            (F.col("total4") / 10000.0).alias("total_revenue"),
        )
    )


@register(
    "q18_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total line
    quantity exceeds 250, with their customer, biggest-ticket first.

    Canonical Q18 phrases this as `o_orderkey IN (SELECT … HAVING …)`
    plus a second lineitem aggregation; both aggregations are the SAME
    relation, so we compute it once and join — the rewrite Catalyst
    cannot do across an IN-subquery boundary (it would scan lineitem
    twice). Reference contract: SQLite evaluates the subquery form
    row-at-a-time (doc.go:68-77 pins the dialect); ours is set-based.

    100-TB design: one hash-shuffle aggregate over lineitem on
    l_orderkey (map-side partial combine first), the HAVING filter
    shrinks it to the ~1% tail BEFORE any join, the orders join
    shuffles only survivors, and customer would broadcast under AQE
    once filtered (at sf it sort-merges — both inputs are already
    small). Quantities are integral by contract (asserted in tests),
    so the sum is an exact BIGINT; top-100 is a TakeOrderedAndProject
    with o_orderkey as the total-order tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "events_cumulative_distinct",
    """
    WITH first_day AS (
        SELECT user_id, CAST(MIN(CAST(ts AS DATE)) AS TIMESTAMP) AS d
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_day GROUP BY d
    )
    SELECT d, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users
    FROM daily
    """,
)
def events_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — 'users to date' growth curve.

    The naive phrasing (COUNT(DISTINCT user_id) OVER (ORDER BY d)) is
    quadratic AND forces every event into one window task. The linear
    rewrite: a user contributes to the cumulative count exactly on
    their FIRST day, so min(date) per user → per-day new-user counts →
    running sum over days.

    100-TB design: the data-sized work is two hash aggregates (user_id,
    then day), both with map-side partial combine; the unpartitioned
    running-sum window runs over the per-DAY relation only — bounded by
    the calendar (≤ 36.6k rows for a century), not by the data, so the
    single window task is safe at any corpus size (contrast with the
    RFM NTILE case in customers_rfm_segments, whose per-customer
    relation required the sketch variant)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).cast("timestamp").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "d", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


@register(
    "q7_nation_volume",
    f"""
    WITH shipping AS (
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
               {_c('l_extendedprice')} * (100 - {_c('l_discount')}) AS rev4
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
            OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev4) AS BIGINT) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade revenue between two
    nations by shipment year — the canonical 6-way join with a
    symmetric nation-pair predicate. Reference contract: filesql
    delegates arbitrary multi-join SELECTs to SQLite
    (builder.go:353-361); q7/q8 exercise the deepest join shapes a
    user would run through that surface.

    100-TB design: the two-year shipdate range pushes into the lineitem
    scan; supplier, customer and both nation aliases are dimensions and
    broadcast, so the ONLY fact-fact shuffle is orders⋈lineitem (left to
    Catalyst/AQE: sort-merge with runtime skew splitting). The
    nation-pair disjunction evaluates on the broadcast side BEFORE the
    final aggregate, pruning ~99% of joined rows map-side. Revenue is
    the exact cents×cent-percent integer sum, divided once."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | (
        (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            (F.sum(rev4).cast("long") / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    f"""
    WITH all_orders AS (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
               {_c('l_extendedprice')} * (100 - {_c('l_discount')}) AS rev4,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = cn.n_regionkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        WHERE r_name = 'ASIA'
          AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev4
                              ELSE 0 END) AS BIGINT) AS DOUBLE)
               / CAST(SUM(rev4) AS BIGINT) AS mkt_share,
           CAST(SUM(rev4) AS BIGINT) / 10000.0 AS total_revenue
    FROM all_orders GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_2's share of ASIA-market
    ECONOMY-part revenue by order year — the deepest canonical join in
    the suite (7 relations joined, one aliased twice; same delegated
    contract as q7, builder.go:353-361).

    100-TB design: part (type-filtered), supplier, customer and the two
    nation roles + region all broadcast — Catalyst collapses this into
    ONE pass over the order-date-pruned lineitem⋈orders shuffle, the
    only data-sized exchange. The share is conditional-sum / total-sum
    over exact 1e-4-unit integers with ONE IEEE division per year row
    (the same pattern as q14's promo share)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    nation2 = F.when(F.col("supp_nation") == "NATION_2", rev4).otherwise(F.lit(0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(nation2).cast("long").alias("n2_rev4"),
            F.sum(rev4).cast("long").alias("tot_rev4"),
        )
        .select(
            "o_year",
            (F.col("n2_rev4").cast("double") / F.col("tot_rev4")).alias("mkt_share"),
            (F.col("tot_rev4") / 10000.0).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Round-8 additions: multiset set-ops, FILTER clause, cume_dist,
# gaps-and-islands streaks, Pareto cumulative share
# --------------------------------------------------------------------------


@register(
    "set_except_all",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference (bag semantics: a custkey with 5
    open and 2 finished orders survives 3 times). SQLite's EXCEPT is
    distinct-only, but the ALL variants complete the standard set-op
    family next to set_except; Spark compiles ``exceptAll`` to a
    count-per-row aggregate + generator replay — one shuffle on the full
    row, no join."""
    o = load_table(spark, sf_dir, "orders")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    finished = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return open_keys.exceptAll(finished)


@register(
    "set_intersect_all",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection (min of the two
    multiplicities per value). Completes the set-op family with
    set_intersect; same count-aggregate physical shape as EXCEPT ALL."""
    o = load_table(spark, sf_dir, "orders")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    finished = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return open_keys.intersectAll(finished)


@register(
    "agg_filter_clause",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           CAST(COALESCE(SUM({_c('o_totalprice')})
                FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) / 100.0
               AS finished_revenue,
           COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_large
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard-SQL aggregate ``FILTER (WHERE …)`` clause (Spark 3.0+,
    DuckDB, SQLite 3.30+ — the reference inherits it via SQLite): three
    differently-filtered aggregates in ONE pass over orders. Runs through
    spark.sql so the clause itself is exercised, not a CASE rewrite; the
    plan is a single map-side-combined hash aggregate — filtered
    aggregation never justifies a second scan."""
    load_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) / 100.0D
                   AS finished_revenue,
               COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_large
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "window_cume_dist",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CUME_DIST() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice) AS cd
    FROM orders
    """,
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUME_DIST window function — fraction of peers with totalprice ≤
    the row's, per priority class. Rank-arithmetic (count ≤ x / count),
    so the double is one deterministic division and ties agree across
    engines; one shuffle on the partition key like every other window
    entry."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "events_user_streaks",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    islands AS (
        SELECT user_id, d,
               CAST(d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                    AS INTEGER) AS DATE) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
        FROM islands GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands rewrite (day − row_number is constant within a
    consecutive run). Engagement-streak features feed retention models
    and curriculum weighting.

    Scale shape: one distinct (user, day) aggregate, one user-keyed
    window, two more user-keyed aggregates — after the first shuffle
    everything stays in the same hash partitioning, and every count is
    an exact integer. No self-join (the naive formulation joins days to
    days-minus-1; the island anchor does it with zero joins)."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@register(
    "lineitem_pareto_share",
    f"""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM({_c('l_extendedprice')} * (100 - {_c('l_discount')}))
                    AS BIGINT) AS rev4
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(rev4) AS BIGINT) AS total FROM rev),
    ranked AS (
        SELECT l_partkey, rev4,
               CAST(SUM(rev4) OVER (ORDER BY rev4 DESC, l_partkey) AS BIGINT)
                   AS cum4,
               CAST(ROW_NUMBER() OVER (ORDER BY rev4 DESC, l_partkey)
                    AS BIGINT) AS rnk
        FROM rev
    )
    SELECT rnk, l_partkey, rev4 / 10000.0 AS revenue,
           CAST(cum4 AS DOUBLE) / total AS cum_share
    FROM ranked CROSS JOIN tot
    WHERE 5 * (cum4 - rev4) < 4 * total
    ORDER BY rnk
    """,
)
def lineitem_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) concentration: the minimal prefix of parts, by
    descending revenue, that reaches 80% of total revenue — the
    concentration report behind "which sources dominate the corpus"
    checks on training mixes.

    Determinism: revenue is exact 1e-4-unit integers; the 80% cut is the
    EXACT integer inequality 5·(cum−rev) < 4·total (rows strictly before
    the crossing, plus the crossing row) — no float threshold compare.
    The global cumulative-sum window runs over the part-level aggregate
    (|parts| rows, already reduced), not raw lineitem; its single-task
    window is the same documented trade as topk's."""
    li = load_table(spark, sf_dir, "lineitem")
    rev4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    rev = li.groupBy("l_partkey").agg(F.sum(rev4).cast("long").alias("rev4"))
    tot = rev.agg(F.sum("rev4").cast("long").alias("total"))
    w = Window.orderBy(F.col("rev4").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.orderBy(F.col("rev4").desc(), "l_partkey")
    ranked = rev.select(
        "l_partkey",
        "rev4",
        F.sum("rev4").over(w).cast("long").alias("cum4"),
        F.row_number().over(wr).cast("long").alias("rnk"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.lit(5) * (F.col("cum4") - F.col("rev4")) < F.lit(4) * F.col("total"))
        .select(
            "rnk",
            "l_partkey",
            (F.col("rev4") / 10000.0).alias("revenue"),
            (F.col("cum4").cast("double") / F.col("total")).alias("cum_share"),
        )
        .orderBy("rnk")
    )


@register(
    "asof_join_tolerance",
    """
    WITH ranked AS (
        SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
               o.o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC,
                                           o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
         AND epoch_us(e.ts) - epoch_us(o.o_orderdate) <= 604800000000
    )
    SELECT event_id, user_id, ts,
           CAST(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END
                AS INTEGER) AS matched,
           o_orderkey AS last_orderkey,
           o_totalprice AS last_order_price,
           CASE WHEN o_orderkey IS NOT NULL
                THEN (epoch_us(ts) - epoch_us(o_orderdate)) // 86400000000
           END AS staleness_days
    FROM ranked WHERE rn = 1
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded LEFT as-of join: each event takes the
    customer's latest order at-or-before its timestamp ONLY if that
    order is at most 7 days stale; staler (or absent) matches yield a
    NULL-match row instead of silently joining ancient state — the
    max-staleness contract real feature-serving as-of joins carry
    (kdb's ``aj`` window / Flink temporal-join TTL / feature-store
    point-in-time lookups).

    Same union-merge scale shape as asof_join_latest_order (one hash
    shuffle, no theta-join pair blow-up); the tolerance is applied
    AFTER the merge as a pure column compare on the propagated match
    timestamp, so the plan is unchanged — bounded staleness costs
    nothing extra."""
    tol_us = 7 * 86_400_000_000
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(1).alias("is_evt"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_totalprice",
        F.lit(0).alias("is_evt"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_evt", F.col("o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ot = F.when(F.col("is_evt") == 0, F.col("t"))
    merged = (
        e.unionByName(o)
        .withColumn("lk", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn("lp", F.last("o_totalprice", ignorenulls=True).over(w))
        .withColumn("lt", F.last(ot, ignorenulls=True).over(w))
    )
    stale_us = F.unix_micros("t") - F.unix_micros("lt")
    fresh = F.col("lt").isNotNull() & (stale_us <= tol_us)
    return merged.filter(F.col("is_evt") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("t").alias("ts"),
        fresh.cast("int").alias("matched"),
        F.when(fresh, F.col("lk")).alias("last_orderkey"),
        F.when(fresh, F.col("lp")).alias("last_order_price"),
        F.when(fresh, F.expr(
            "(unix_micros(t) - unix_micros(lt)) div 86400000000"
        )).alias("staleness_days"),
    )


@register(
    "orders_open_interval_count",
    f"""
    WITH iv AS (
        SELECT o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS s,
               CAST(MAX(l.l_shipdate) AS DATE) AS e
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT d, CAST(SUM(x) AS BIGINT) AS dx
        FROM (
            SELECT s AS d, 1 AS x FROM iv
            UNION ALL
            SELECT e + INTERVAL 1 DAY, -1 FROM iv
        ) GROUP BY d
    )
    SELECT CAST(d AS TIMESTAMP) AS day,
           CAST(SUM(dx) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_open
    FROM deltas
    """,
)
def orders_open_interval_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval count (the classic sweep-line rewrite): how
    many orders are open — between order date and their last shipment —
    on each day the count changes. The naive per-day formulation joins
    every day against every interval (days × orders); the sweep emits
    ±1 deltas at interval endpoints and takes ONE running sum over the
    ≤|distinct endpoint| relation — the same linearization trick as
    events_cumulative_distinct.

    Shape: one orders⋈lineitem aggregate for interval ends (the only
    data-sized shuffle), a tiny delta aggregate, one ordered window
    over endpoint days. Counts exact integers throughout."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("ship_end"))
        .select(
            F.to_date("o_orderdate").alias("s"),
            F.to_date("ship_end").alias("e"),
        )
    )
    deltas = (
        iv.select(F.col("s").alias("d"), F.lit(1).alias("x"))
        .unionAll(
            iv.select(F.date_add(F.col("e"), 1).alias("d"), F.lit(-1))
        )
        .groupBy("d")
        .agg(F.sum("x").cast("long").alias("dx"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return deltas.select(
        # TIMESTAMP output (not DATE): the hash compare needs one dtype
        # family on both engines and DuckDB's DATE surfaces as object —
        # same convention as sketch_hll_rollup's week column
        F.col("d").cast("timestamp").alias("day"),
        F.sum("dx").over(w).cast("long").alias("n_open"),
    )


@register(
    "lineitem_discount_regression",
    f"""
    WITH x AS (
        SELECT l_returnflag,
               {_c('l_discount')} AS dc,
               CAST(l_quantity AS BIGINT) AS q
        FROM lineitem
    ),
    m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dc) AS BIGINT) AS sx,
               CAST(SUM(q) AS BIGINT) AS sy,
               CAST(SUM(dc * dc) AS BIGINT) AS sxx,
               CAST(SUM(dc * q) AS BIGINT) AS sxy
        FROM x GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) * sx)
               / n AS intercept
    FROM m
    """,
)
def lineitem_discount_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of quantity on discount (does discounting move
    volume?): slope and intercept from ONE pass of exact integer moment
    sums over discount-cents — distributed least squares as a single
    map-side-combined aggregate, no ML library, no iteration. The final
    slope/intercept are fixed IEEE division/multiply chains over exact
    integers, so the hash matches without rounding — the same
    exact-moments discipline as quality_signal_correlation, extended
    from correlation to regression."""
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        "l_returnflag",
        cents("l_discount").alias("dc"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    m = x.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dc").cast("long").alias("sx"),
        F.sum("q").cast("long").alias("sy"),
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sxx"),
        F.sum(F.col("dc") * F.col("q")).cast("long").alias("sxy"),
    )
    slope = "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)"
    return m.select(
        "l_returnflag",
        "n",
        F.expr(slope).alias("slope"),
        F.expr(f"(CAST(sy AS DOUBLE) - ({slope}) * sx) / n").alias("intercept"),
    )


@register(
    "orders_seasonality_index",
    f"""
    WITH monthly AS (
        SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS month,
               CAST(SUM({_c('o_totalprice')}) AS BIGINT) AS rev_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY EXTRACT(MONTH FROM o_orderdate)
    ),
    tot AS (
        SELECT CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
               CAST(COUNT(*) AS BIGINT) AS n_months
        FROM monthly
    )
    SELECT month, rev_cents / 100.0 AS revenue, n_orders,
           CAST(rev_cents * n_months * 1000000 // total_cents AS BIGINT)
               AS seasonal_index_ppm
    FROM monthly CROSS JOIN tot
    """,
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic seasonal index per calendar month: month revenue relative
    to the all-months mean, in exact integer ppm (1,000,000 = an average
    month) — the multiplicative-decomposition building block demand
    planning starts from. One month-keyed aggregate (12 rows) + a
    one-row broadcast total; index = rev·n_months·10⁶ ÷ total in exact
    integers (multiplying by n_months before dividing avoids a float
    mean)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.month("o_orderdate").alias("month")).agg(
        F.sum(cents("o_totalprice")).cast("long").alias("rev_cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    tot = monthly.agg(
        F.sum("rev_cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_months"),
    )
    return monthly.crossJoin(F.broadcast(tot)).select(
        "month",
        (F.col("rev_cents") / 100.0).alias("revenue"),
        "n_orders",
        F.expr("rev_cents * n_months * 1000000 div total_cents")
        .cast("long")
        .alias("seasonal_index_ppm"),
    )


@register(
    "part_supplier_concentration",
    f"""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM({_c('l_extendedprice')}) AS BIGINT) AS rev
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    tot AS (
        SELECT l_partkey, CAST(SUM(rev) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM ps GROUP BY l_partkey
    ),
    shares AS (
        SELECT p.l_partkey, t.n_suppliers,
               (p.rev * 10000) // t.total AS share_bp
        FROM ps p JOIN tot t USING (l_partkey)
    )
    SELECT l_partkey,
           CAST(MAX(n_suppliers) AS BIGINT) AS n_suppliers,
           CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi
    FROM shares GROUP BY l_partkey
    ORDER BY hhi DESC, l_partkey LIMIT 25
    """,
)
def part_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk: the Herfindahl-Hirschman index of
    supplier revenue shares per part (shares in exact integer basis
    points; HHI = Σ share²  — 10⁸ = single-source), top-25 most
    concentrated — the single-point-of-failure screen a supply-chain
    review runs. Two part-keyed aggregates that reuse one hash
    partitioning + a TakeOrdered top-k; every number before the output
    is an exact integer (floor-div shares make the HHI engine-stable,
    at worst 10⁻⁴ relative quantization)."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(cents("l_extendedprice")).cast("long").alias("rev")
    )
    tot = ps.groupBy("l_partkey").agg(
        F.sum("rev").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    shares = ps.join(tot, "l_partkey").select(
        "l_partkey",
        "n_suppliers",
        F.expr("(rev * 10000) div total").alias("share_bp"),
    )
    return (
        shares.groupBy("l_partkey")
        .agg(
            F.max("n_suppliers").cast("long").alias("n_suppliers"),
            F.sum(F.col("share_bp") * F.col("share_bp")).cast("long").alias("hhi"),
        )
        .orderBy(F.col("hhi").desc(), "l_partkey")
        .limit(25)
    )


@register(
    "window_groups_frame",
    """
    WITH ranked AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               DENSE_RANK() OVER (PARTITION BY l_suppkey
                                  ORDER BY l_quantity) AS grp
        FROM lineitem WHERE l_suppkey <= 20
    )
    SELECT l_suppkey,
           CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS INTEGER) AS l_linenumber,
           CAST(l_quantity AS BIGINT) AS l_quantity,
           CAST(SUM(cents) OVER (PARTITION BY l_suppkey ORDER BY grp
                                 RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                AS BIGINT) AS neighborhood_cents
    FROM ranked
    """,
)
def window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS-mode window frame (SQLite 3.28+ window syntax, inherited
    by the reference): per supplier, the revenue of each line's
    quantity-peer group plus the adjacent quantity groups —
    ``GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING``.

    Spark has no GROUPS frame mode, so it is EMULATED exactly: a
    ``dense_rank`` over the ORDER BY key numbers the peer groups, then a
    RANGE frame of ±1 over that rank aggregates whole neighbor groups —
    the standard reduction of GROUPS to RANGE (every tie set becomes one
    integer). Two window passes over one supplier-hash partitioning, no
    extra shuffle. DuckDB lacks GROUPS too, so the oracle states the
    same reduction independently in SQL — the differential check
    verifies the emulation, with the tie-set semantics pinned by
    tests/test_round9.py against a hand-computed fixture."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 20)
    w_rank = Window.partitionBy("l_suppkey").orderBy("l_quantity")
    ranked = li.select(
        "l_suppkey",
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        F.col("l_quantity").cast("long").alias("l_quantity"),
        cents("l_extendedprice").alias("__cents"),
        F.dense_rank().over(w_rank).alias("__grp"),
    )
    w_groups = (
        Window.partitionBy("l_suppkey").orderBy("__grp").rangeBetween(-1, 1)
    )
    return ranked.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.sum("__cents").over(w_groups).cast("long").alias("neighborhood_cents"),
    )
