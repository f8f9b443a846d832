"""General relational surface over the TPC-H-ish star schema.

The reference's query surface is narrow (point lookups + one self-join); a
user switching to this engine gets the full declarative relational algebra
the reference's operators embed into (SURVEY §2.5): multi-way joins,
multi-grain aggregation (incl. cube/rollup — the reference's W2/W3/W5 legs
ARE a hand-built cube over (experiment, variant)), analytic windows, sorts/
top-k, set operations, semi/anti joins, pivot, and the scalar
date/string/null functions the reference uses (S1–S4, R2's null→0).

Scale notes (100 TB):
* Filters are applied before joins and reference only scanned columns, so
  Catalyst pushes predicates into the parquet scan and prunes columns.
* Dimension tables (region, nation, supplier at TPC-H ratios) are
  explicitly ``broadcast()``; fact-fact joins (orders⋈lineitem) shuffle on
  the join key and AQE handles skew/coalescing.
* Aggregates use partial (map-side) aggregation automatically; measures go
  through the exact decimal accumulator (functions.numeric) so results are
  independent of partitioning and merge order.
* Top-k (``orderBy().limit(k)``) executes as TakeOrderedAndProject — per
  partition heaps + driver merge of k rows, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import davg, dsum
from ..tables import load, spread


def _rev(df: DataFrame) -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount")))


# --- TPC-H Q1: pricing summary (multi-measure grouped agg) -------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # spread() AFTER the pushed-down filter: the 8-aggregate decimal
    # partial agg is the dominant cost, and a single-row-group fixture
    # would otherwise run it in one task (no-op on well-split inputs,
    # so the 100 TB plan is unchanged — see tables.spread).
    return (
        spread(li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(_rev(li), "sum_disc_price"),
            dsum(_rev(li) * (1 + F.col("l_tax")), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- TPC-H Q3: shipping priority (3-way join + top-k) ------------------------
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_rev(li), "revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --- TPC-H Q5: local supplier volume (6-way join, broadcast dims) ------------
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(_rev(li), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --- TPC-H Q6: forecast revenue (pure filter + scalar agg, pushdown test) ----
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# --- Top-k: highest-value orders (TakeOrderedAndProject) ---------------------
def top_orders_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


# --- Cube / rollup (the reference's W2/W3/W5 manual cube, SURVEY §2.5) -------
def cube_quantity_by_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count("*").alias("n_rows"))
    )


def rollup_orders_by_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(dsum("o_totalprice", "sum_price"), F.count("*").alias("n_orders"))
    )


# --- Analytic windows --------------------------------------------------------
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by value — ranking window (deterministic
    tie-break on o_orderkey)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 3)
    )


def running_revenue_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running decimal-exact revenue per supplier ordered by ship date —
    frame-based aggregation window.

    The sort is made TOTAL by appending the measure columns
    (l_extendedprice, l_discount) after (l_shipdate, l_orderkey,
    l_linenumber): the synthetic lineitem contains duplicate
    (orderkey, linenumber) pairs, and a prefix sum over a non-total order
    is engine-dependent at every tie. With the measures in the key, any
    rows still tied are value-identical, so their prefix sums agree
    regardless of which engine puts which first."""
    li = load(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.sum(_rev(li).cast("decimal(38,6)")).over(w).cast("double").alias("running_revenue"),
    )


# --- Semi / anti joins -------------------------------------------------------
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- Set operations ----------------------------------------------------------
def active_entity_keys_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of customer keys and ordering-customer keys."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    orders = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return cust.union(orders).distinct()


def customer_keys_minus_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customer keys that never appear in orders."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    orders = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return cust.subtract(orders)


def customer_keys_intersect_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customer keys that do appear in orders."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    orders = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return cust.intersect(orders)


# --- Pivot -------------------------------------------------------------------
MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def customers_by_nation_segment_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer counts per nation pivoted by market segment. Explicit pivot
    values keep the plan single-pass (no distinct-value pre-query)."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .pivot("c_mktsegment", MKT_SEGMENTS)
        .count()
        .na.fill(0, MKT_SEGMENTS)
    )


# --- Scalar function showcase (S1–S4 analogues over orders) ------------------
def order_scalar_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/string/null scalar surface: date_trunc/format (S4), concat
    (S1/S2), coalesce/null handling (R2 null→0), numeric floor/abs."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month_str"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_or_open"
        ),
        F.floor("o_totalprice").alias("price_floor"),
        F.abs(F.col("o_totalprice") - 1000.0).alias("price_abs_delta"),
        F.length("o_orderpriority").alias("priority_len"),
        F.upper("o_orderstatus").alias("status_upper"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
    )


# --- Max-per-group (correlated-subquery pattern as a window) -----------------
def priciest_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All parts at their brand's maximum retail price — the
    max-per-group / correlated-subquery pattern, expressed as one window
    (single shuffle on the group key; ties all kept)."""
    part = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        part.withColumn("brand_max", F.max("p_retailprice").over(w))
        .where(F.col("p_retailprice") == F.col("brand_max"))
        .select("p_brand", "p_partkey", "p_retailprice")
    )


# --- Conditional aggregation + HAVING + IN/LIKE/BETWEEN ----------------------
def returnflag_discount_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter surface (IN-list, BETWEEN, LIKE) feeding conditional
    aggregates with a HAVING clause."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            F.col("l_returnflag").isin("A", "R", "N")
            & F.col("l_quantity").between(1, 40)
            & F.col("l_linestatus").like("%F%")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("l_quantity", "sum_qty"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_high_discount"),
        )
        .where(F.col("n_rows") > 100)
    )


# --- Monthly revenue rollup (date_trunc grouping) ----------------------------
def monthly_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(dsum("o_totalprice", "revenue"), F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# TPC-H query shapes Q4–Q22, adapted to the testdata's slimmer schema
# (no partsupp table, no l_commitdate/l_receiptdate/l_shipmode, no c_phone/
# p_container — see TESTDATA.md). Each keeps the original query's OPERATOR
# shape (the part the engine must execute well at 100 TB): correlated EXISTS
# as semi-join, two-sided nation pairs, conditional-aggregate ratios,
# group-then-distribute, scalar-subquery anti-join, OR-of-conjunct pushdown.
# ---------------------------------------------------------------------------


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


# --- Q4: order priority checking (EXISTS → left-semi join + agg) -------------
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority having ≥1 line shipped >30 days after order date
    (adaptation of Q4's commit<receipt lateness; schema lacks those dates).
    The correlated EXISTS becomes a left-semi join whose non-equi clause
    (l_shipdate > o_orderdate + 30d) rides on the equi-key shuffle."""
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def _nation_as(spark: SparkSession, sf_dir: str, key: str, name: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    return n.select(F.col("n_nationkey").alias(key), F.col("n_name").alias(name))


# --- Q7: volume shipping between two nations ---------------------------------
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade: revenue per (supplier-nation, customer-nation, year)
    for the NATION_1↔NATION_2 pair. Both nation lookups broadcast; the only
    shuffles are the two fact-fact equi-joins and the final agg."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    n1 = _nation_as(spark, sf_dir, "s_nkey", "supp_nation")
    n2 = _nation_as(spark, sf_dir, "c_nkey", "cust_nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(_rev(li), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- Q8: national market share (conditional-aggregate ratio) ------------------
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of PROMO-part revenue sold into ASIA, per order year.
    Numerator and denominator both go through the exact decimal accumulator,
    so the final double division is deterministic under any partitioning."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    n_cust = _nation_as(spark, sf_dir, "c_nkey", "cust_nation")
    n_supp = _nation_as(spark, sf_dir, "s_nkey", "supp_nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust_region = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("n_nationkey").alias("cr_nkey"))
    )
    rev = _rev(li).cast("decimal(38,6)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_region), cust.c_nationkey == F.col("cr_nkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0).cast("decimal(38,6)"))).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --- Q9: product-type profit by nation/year -----------------------------------
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from 'widget' parts per supplier nation and order year
    (Q9's profit minus the ps_supplycost term — no partsupp table)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part").where(F.col("p_name").contains("widget"))
    supp = load(spark, sf_dir, "supplier")
    n_supp = _nation_as(spark, sf_dir, "s_nkey", "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("s_nkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(_rev(li), "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# --- Q10: returned-item reporting (top-20 customers by returned revenue) ------
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-04-01"))
    )
    cust = load(spark, sf_dir, "customer")
    n = _nation_as(spark, sf_dir, "c_nkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n), cust.c_nationkey == F.col("c_nkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev(li), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --- Q12: late-shipment priority mix ------------------------------------------
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per line status: how many 1996 lines shipped >60 days after their
    order, split by high vs low order priority (Q12's shipmode axis replaced
    by l_linestatus; commit/receipt lateness replaced by ship lag)."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    orders = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --- Q13: customer order-count distribution (group-then-distribute) -----------
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-customer order counts, excluding 5-LOW orders.
    Left join keeps order-less customers (c_count = 0)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "5-LOW")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --- Q14: promotion-effect ratio ----------------------------------------------
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1997-03-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    part = load(spark, sf_dir, "part")
    rev = _rev(li).cast("decimal(38,6)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(38,6)"))).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue")
        )
    )


# --- Q15: top supplier (agg → max-join, no global sort) ------------------------
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue. The max is a 1-row
    broadcast join against the revenue aggregate — no single-partition
    window, so the pattern scales to any supplier count."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    supp = load(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(dsum(_rev(li), "total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("max_rev"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --- Q17: small-quantity-order revenue ------------------------------------------
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost if Brand#23 orders below 20% of a part's
    mean quantity were dropped. The per-part mean is a grouped agg joined
    back on the part key (shuffle reused), not a correlated subquery."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        davg("l_quantity", "avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(part_avg, li.l_partkey == F.col("pa_key"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# --- Q18: large-volume customers -------------------------------------------------
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 300, with their customers.
    The HAVING filter runs on the lineitem aggregate BEFORE the joins, so
    only the tiny qualifying set reaches the orders/customer tables."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --- Q19: discounted revenue (OR-of-conjuncts pushdown) ---------------------------
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunction of three (brand, size-range, quantity-range) conjuncts —
    the classic OR-of-ANDs predicate Catalyst must keep pushed below the
    join (common l_quantity/p_size bounds are extracted as a pre-filter)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(cond).agg(dsum(_rev(li), "revenue"))


# --- Q22: dormant high-balance customers (scalar subquery + anti-join) ------------
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: customers with above-average (positive-balance) account
    balance and no orders since 2000 (Q22's phone-prefix axis replaced by
    nationkey). The global mean is a 1-row broadcast; the NOT EXISTS is a
    left-anti join."""
    cust = load(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal", "avg_bal")
    )
    recent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= _ts("2000-01-01"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"), dsum("c_acctbal", "totacctbal"))
        .orderBy("c_nationkey")
    )


# --- Statistical aggregates (discrete percentiles — order-independent) --------
def price_percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min / p50 / p90 / max of extended price per return flag.

    ``percentile_disc`` picks an actual data value (no interpolation), so
    the result is bit-identical across engines and partitionings — unlike
    mean/stddev chains on doubles.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("min_price"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
            ).alias("p50_price"),
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"
            ).alias("p90_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


def price_quantiles_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of extended price per return flag from KLL quantile
    sketches (``kll_sketch_agg_double``) — the mergeable-quantile scale
    path beside the exact :func:`price_percentiles_by_flag`.

    Exact per-group percentiles need the full value multiset per group on
    one node (sort or ``percentile_disc``); a KLL sketch is a ≤KB bounded
    summary built with map-side partial aggregation and merged
    associatively — the same partials-then-merge contract as the HLL/theta
    sketches in the streaming store, so per-group quantiles stay cheap at
    any fan-in, and the sketch itself can be persisted and re-merged
    incrementally (e.g. per-day partials → 90-day quantiles without
    re-reading 90 days).

    Registered rows-only (KLL picks a retained value within rank error
    ±1.7% at the default k=200); the rank-error bound vs the exact
    percentiles is asserted in tests/test_properties.py.
    """
    li = load(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double(F.col("l_extendedprice").cast("double")).alias("sk")
    )
    return sk.select(
        "l_returnflag",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50_est"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("p90_est"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.99)).alias("p99_est"),
    )


# --- Extended string-function surface -----------------------------------------
def part_name_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface beyond order_scalar_projections: regex extract,
    case mapping, reverse, padding, char translation, split indexing and
    edit distance — all JVM-side codegen expressions."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.initcap("p_name").alias("name_title"),
        F.reverse("p_name").alias("name_rev"),
        F.lpad("p_brand", 12, "_").alias("brand_padded"),
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_upper"),
        F.split(F.col("p_name"), " ").getItem(1).alias("second_word"),
        F.levenshtein("p_name", "p_brand").alias("name_brand_dist"),
        F.instr("p_name", "widget").alias("widget_pos"),
        F.repeat(F.substring("p_name", 1, 2), 2).alias("prefix_x2"),
    )


# --- Full-outer join (entity reconciliation) ----------------------------------
def nation_customer_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer vs supplier presence per nation — FULL OUTER join of two
    aggregates, null-filled to 0. Nations with only customers or only
    suppliers survive on the respective side."""
    cust = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


# --- Q2: best-balance supplier per part (correlated scalar subquery) -----------
def q2_best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape on the slimmer schema: for each qualifying part,
    the EUROPE supplier(s) with the maximum account balance among those who
    have supplied it (lineitem stands in for partsupp as the part-supplier
    catalog). The correlated ``= (SELECT max ...)`` becomes a grouped max
    joined back on the part key.

    Scale: parts are filtered BEFORE the lineitem semi-pass (broadcast), so
    the (partkey, suppkey) distinct only shuffles the qualifying sliver;
    the per-part max is a broadcast join back (few qualifying parts)."""
    part = load(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eur = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load(spark, sf_dir, "lineitem")
    ps = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    cand = (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(eur), ps.l_suppkey == eur.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "n_name", "s_acctbal")
    )
    best = cand.groupBy(F.col("p_partkey").alias("b_key")).agg(
        F.max("s_acctbal").alias("max_bal")
    )
    return (
        cand.join(
            F.broadcast(best),
            (cand.p_partkey == F.col("b_key")) & (cand.s_acctbal == F.col("max_bal")),
        )
        .select("p_partkey", "p_name", "s_name", "n_name", "s_acctbal")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --- Q11: important part values (global-ratio HAVING via scalar subquery) ------
def q11_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's shape: per-part shipped value from one nation's suppliers,
    keeping parts whose value exceeds 0.1% of the nation's total (the
    ``HAVING > (SELECT sum(...) * fraction)`` scalar subquery).

    Scale: the nation's supplier keys broadcast into the lineitem scan; the
    global total is a 1-row broadcast against the already-aggregated
    per-part frame — no second pass over lineitem."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 7)
    pv = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(dsum(_rev(li), "part_value"))
    )
    total = pv.agg((F.sum(F.col("part_value").cast("decimal(38,6)")).cast("double") * 0.001).alias("threshold"))
    return (
        pv.join(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


# --- Q16: supplier diversity per part class (NOT IN anti-join + distinct count) -
def q16_part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16's shape: distinct suppliers per (brand, type, size) bucket
    for parts outside one brand/type, excluding "complaint" suppliers
    (negative balance stands in for the comment-pattern NOT IN subquery —
    a broadcast left-anti join).

    Scale: the excluded-supplier list is tiny (broadcast anti); part
    attributes broadcast into the lineitem join; the count-distinct
    shuffles once on the 3-column group key."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#23")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    complaints = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(complaints.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# --- Q20: heavy suppliers of a part family (nested semi-join chain) ------------
def q20_heavy_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's shape: suppliers in one region who shipped more than 50
    units of any single part whose name starts with a prefix, during 1997
    (the IN (... IN (...) HAVING) nesting becomes semi-join → grouped
    HAVING → semi-join).

    Scale: the part-prefix filter broadcasts into lineitem; the
    (supp, part) aggregate shuffles only prefix-matched 1997 rows; the
    qualifying supplier-key set broadcasts back against supplier."""
    part = load(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    heavy = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum("l_quantity", "sum_qty"))
        .where(F.col("sum_qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        supp.join(F.broadcast(heavy), supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# --- Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS self-joins) ---
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape with shipdate-vs-orderdate lateness (the schema has
    no commit/receipt dates): for finished orders, count per supplier the
    late lineitems where other suppliers were on the order (EXISTS) but no
    OTHER supplier was late (NOT EXISTS). The two correlated subqueries
    become one order-grain aggregate — distinct suppliers and distinct
    late suppliers per order — joined back to the late lines.

    Scale: one orders⋈lineitem shuffle feeds both the order-grain summary
    and the late-line stream (same key), so AQE can reuse the exchange;
    the per-order summary is filtered (multi-supplier, single late
    supplier) before the join back."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem")
    lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("is_late"),
        )
    )
    per_order = lines.groupBy(F.col("l_orderkey").alias("o_key")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late"),
    )
    waiting = per_order.where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    supp = load(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 3)
    return (
        lines.where(F.col("is_late"))
        .join(waiting, F.col("l_orderkey") == F.col("o_key"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# --- Equi-width histogram ------------------------------------------------------
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of order totals over 20 equi-width buckets between 0 and
    500k (width_bucket semantics: below-range → bucket 0, above-range →
    21). One shuffle keyed by bucket id — at any scale the shuffle carries
    ≤22 partial rows per input partition."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(500000.0), F.lit(20))
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("bucket")
    )


# --- Distributed moments (numerically deterministic) --------------------------
def price_moments_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean and population standard deviation of extended price per return
    flag, computed from exact decimal power sums (n, Σx, Σx²) rather than
    Spark's streaming variance — so the result is bit-identical at any
    partitioning AND matches the oracle running the same formula
    single-threaded. The one-pass Σx² formulation is safe here because
    decimal accumulation is exact (no catastrophic cancellation from
    float partials)."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(38,6)")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    return agg.select(
        "l_returnflag",
        "n",
        mean.alias("mean_price"),
        F.sqrt(F.col("sxx") / F.col("n") - mean * mean).alias("stddev_pop_price"),
    ).orderBy("l_returnflag")


# --- Unpivot / melt ------------------------------------------------------------
def part_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot of part's numeric attributes via ``stack`` — the
    inverse of pivot; a narrow row expansion (no shuffle)."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), "
            "'retailprice', CAST(p_retailprice AS DOUBLE))"
        ).alias("measure", "value"),
    )


# --- Analytic window-function surface -----------------------------------------
def order_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The navigation/distribution window surface in one pass per customer:
    lag/lead (prior/next order value), first_value (frame-to-current),
    ntile quartile, percent_rank and cume_dist. One shuffle keyed by
    o_custkey; the (o_orderdate, o_orderkey) ordering is total, so every
    function is deterministic and engine-portable."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_orderdate").over(w).alias("first_order_date"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --- SQL entry point -----------------------------------------------------------
def sql_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's second API surface: the exact Q4 statement as literal
    ``spark.sql`` over registered views — correlated EXISTS included.
    Catalyst plans SQL and DataFrame code through the same optimizer, so
    this carries the identical physical plan (and oracle) as the
    DataFrame-built :func:`q4_order_priority`."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """SELECT o_orderpriority, count(*) AS order_count
           FROM orders o
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1997-01-01'
             AND EXISTS (SELECT 1 FROM lineitem l
                         WHERE l.l_orderkey = o.o_orderkey
                           AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
           GROUP BY o_orderpriority"""
    )


# --- Table profiling (data-quality / governance surface) ----------------------
#: Columns profiled over ``documents`` — name and a cast-to-string expr so
#: heterogeneous types share one output schema.
_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the ``documents`` table: per column the row
    count, null count, exact distinct count, and lexicographic min/max —
    the data-quality report every ingest gate runs before a corpus is
    admitted (dbt/Deequ-style profiling re-expressed as ONE Spark pass).

    Plan: all per-column aggregates compute in a single aggregation over
    one scan (Catalyst plans the multi-distinct via one Expand + a single
    shuffle of partials); the wide 1-row result is then unpivoted with
    ``stack`` into the (column_name, stats...) long form — no second
    scan, no per-column jobs. At 100 TB the exact multi-distinct Expand
    multiplies shuffle rows by the column count — the approx twin
    (:func:`profile_documents_approx`) replaces each distinct with a ≤KB
    HLL partial and is the scale path.
    """
    from ..tables import load

    docs = load(spark, sf_dir, "documents")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}__mn"),
            F.max(F.col(c).cast("string")).alias(f"{c}__mx"),
        ]
    wide = docs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_non_null, n_distinct, min_value, max_value)",
    ).select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_nulls"),
        "n_distinct",
        "min_value",
        "max_value",
    )


def oracle_profile_documents() -> str:
    """DuckDB twin of :func:`profile_documents` (one SELECT per column,
    UNION ALL — the relational spelling of the same profile)."""
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"""SELECT '{c}' AS column_name, count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_value,
       max(CAST({c} AS VARCHAR)) AS max_value
FROM documents"""
        )
    return "\nUNION ALL\n".join(parts)


def profile_documents_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of :func:`profile_documents`: every exact distinct is a
    DataSketches HLL estimate (mergeable ≤KB partials — no Expand, no
    distinct shuffle multiplication). Registered rows-only; estimate
    accuracy vs the exact profile is asserted in tests."""
    from ..tables import load

    docs = load(spark, sf_dir, "documents")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.expr(f"hll_sketch_estimate(hll_sketch_agg(CAST({c} AS STRING), 14))")
            .alias(f"{c}__nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}__mn"),
            F.max(F.col(c).cast("string")).alias(f"{c}__mx"),
        ]
    wide = docs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_non_null, n_distinct_est, min_value, max_value)",
    ).select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_nulls"),
        "n_distinct_est",
        "min_value",
        "max_value",
    )


#: The constraint suite: (name, threshold). Metrics are satisfaction
#: fractions in [0, 1]; a constraint passes when metric >= threshold.
#: min_length_100 is deliberately strict enough to FAIL on the fixture
#: (shortest docs are ~44 chars) — a validation gate that cannot fail
#: proves nothing.
_CONSTRAINTS = [
    ("completeness_text", 1.0),
    ("uniqueness_doc_id", 1.0),
    ("consistency_n_chars_eq_len", 1.0),
    ("containment_lang_iso", 1.0),
    ("pattern_source_id", 1.0),
    ("range_n_chars_1_100k", 1.0),
    ("min_length_100", 1.0),
]
#: the conditional count behind each of :data:`_CONSTRAINTS`, in order
_CONSTRAINT_COUNTS = ["c_text", "c_uniq", "c_len", "c_lang", "c_src", "c_range", "c_min100"]


def _constraint_counts(docs: DataFrame) -> DataFrame:
    """One row over ``docs``: the row count ``n`` and the conditional
    counts :data:`_CONSTRAINT_COUNTS` — exact integers, so the rows of
    doc_id-disjoint shipments merge by sum."""
    return docs.agg(
        F.count("*").alias("n"),
        F.count(
            F.when(F.col("text").isNotNull() & (F.length("text") > 0), 1)
        ).alias("c_text"),
        F.countDistinct("doc_id").alias("c_uniq"),
        F.count(F.when(F.col("n_chars") == F.length("text"), 1)).alias("c_len"),
        F.count(
            F.when(F.col("lang").isin("de", "en", "es", "fr", "zh"), 1)
        ).alias("c_lang"),
        F.count(F.when(F.col("source").rlike("^src[0-9]+$"), 1)).alias("c_src"),
        F.count(F.when(F.col("n_chars").between(1, 100000), 1)).alias("c_range"),
        F.count(F.when(F.col("n_chars") >= 100, 1)).alias("c_min100"),
    )


def _constraint_rows(counts: DataFrame) -> DataFrame:
    """The report from the one-row ``counts`` frame: one row per
    constraint, each metric one double division of its count by ``n``
    (``try_divide``: NULL metrics, not an error, on an empty corpus)."""
    stack = ", ".join(
        f"'{name}', try_divide(CAST({c} AS DOUBLE), CAST(n AS DOUBLE)),"
        f" CAST({thr} AS DOUBLE)"
        for (name, thr), c in zip(_CONSTRAINTS, _CONSTRAINT_COUNTS)
    )
    return counts.selectExpr(
        f"stack({len(_CONSTRAINTS)}, {stack}) AS (check_name, metric, threshold)"
    ).select(
        "check_name",
        "metric",
        "threshold",
        (F.col("metric") >= F.col("threshold")).alias("passed"),
    )


def constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-validation suite over the documents table — the
    pre-training gate a pipeline runs before a corpus version is allowed
    into the mix (completeness / uniqueness / consistency / containment
    / pattern / range), one row per constraint with its satisfaction
    fraction and verdict.

    All metrics come out of ONE aggregation pass (map-side-combined
    conditional counts + one count-distinct); the report frame is
    |constraints| rows. Each metric is an exact-integer pair pushed
    through one double division, so the report hash-gates. At 100 TB
    this is a single corpus scan — the same shape Deequ compiles its
    analyzers to.

    Output: (check_name, metric DOUBLE, threshold DOUBLE, passed).
    """
    return _constraint_rows(_constraint_counts(load(spark, sf_dir, "documents")))


def oracle_constraint_report() -> str:
    """DuckDB twin of :func:`constraint_report` — the same one-pass
    conditional counts, unpivoted with UNION ALL."""
    rows = []
    for (name, thr), c in zip(_CONSTRAINTS, _CONSTRAINT_COUNTS):
        rows.append(
            f"SELECT '{name}' AS check_name,"
            f" CAST({c} AS DOUBLE) / CAST(n AS DOUBLE) AS metric,"
            f" CAST({thr} AS DOUBLE) AS threshold,"
            f" CAST({c} AS DOUBLE) / CAST(n AS DOUBLE) >= CAST({thr} AS DOUBLE)"
            f" AS passed FROM a"
        )
    body = "\nUNION ALL\n".join(rows)
    return f"""WITH a AS (
  SELECT count(*) AS n,
         count(CASE WHEN text IS NOT NULL AND length(text) > 0 THEN 1 END) AS c_text,
         count(DISTINCT doc_id) AS c_uniq,
         count(CASE WHEN n_chars = length(text) THEN 1 END) AS c_len,
         count(CASE WHEN lang IN ('de','en','es','fr','zh') THEN 1 END) AS c_lang,
         count(CASE WHEN regexp_matches(source, '^src[0-9]+$') THEN 1 END) AS c_src,
         count(CASE WHEN n_chars BETWEEN 1 AND 100000 THEN 1 END) AS c_range,
         count(CASE WHEN n_chars >= 100 THEN 1 END) AS c_min100
  FROM documents)
{body}"""


# --- Market-basket affinity ---------------------------------------------------

BASKET_MIN_SUPPORT = 2
BASKET_MAX_ITEMS = 1000


def basket_part_pairs(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = BASKET_MIN_SUPPORT,
    max_items: int = BASKET_MAX_ITEMS,
) -> DataFrame:
    """Market-basket affinity: part pairs co-purchased in the same order,
    with per-pair support and lift — the first A-priori pass every
    recommender/affinity analysis starts from.

    Determinism: pair MEMBERSHIP is integer-decided (co-order count ≥
    ``min_support``); lift = ``n_pair·N / (n_a·n_b)`` is exact integers
    into one dquant'd double expression.

    Scale: baskets collapse to DISTINCT (order, part) map-side; the pair
    generator is a self-equi-join keyed by the uniform order key with
    per-order fan-out bounded by basket size squared (TPC-H baskets are
    ≤13 items; ``max_items`` guards the pathological mega-basket — a
    basket over the cap is dropped and at 100 TB would be routed to a
    top-k-per-basket variant instead); support joins carry one row per
    surviving pair side. No cross join, no skew surface beyond basket
    size, which the guard bounds.

    Output: (part_a, part_b, n_orders_pair, n_orders_a, n_orders_b,
    lift) for pairs with support ≥ min_support; part_a < part_b.
    """
    li = load(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    sizes = basket.groupBy("ok").agg(F.count("*").alias("sz"))
    basket = basket.join(
        sizes.where(F.col("sz") <= max_items).select("ok"), "ok", "left_semi"
    )
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(
            F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b")
        )
        .agg(F.count("*").alias("n_orders_pair"))
        .where(F.col("n_orders_pair") >= min_support)
    )
    supp = basket.groupBy(F.col("pk")).agg(F.count("*").alias("n"))
    n_orders = basket.select("ok").distinct().agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
    from ..functions.numeric import dquant

    lift = (
        F.col("n_orders_pair").cast("double")
        * F.col("n_orders").cast("double")
        / (F.col("n_orders_a").cast("double") * F.col("n_orders_b").cast("double"))
    )
    return (
        pairs.join(
            supp.select(F.col("pk").alias("part_a"), F.col("n").alias("n_orders_a")),
            "part_a",
        )
        .join(
            supp.select(F.col("pk").alias("part_b"), F.col("n").alias("n_orders_b")),
            "part_b",
        )
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_orders_pair",
            "n_orders_a",
            "n_orders_b",
            dquant(lift, "lift"),
        )
    )


def oracle_basket_part_pairs(
    min_support: int = BASKET_MIN_SUPPORT, max_items: int = BASKET_MAX_ITEMS
) -> str:
    """DuckDB twin of :func:`basket_part_pairs`."""
    from ..functions.numeric import oracle_dquant

    lift = (
        "CAST(n_orders_pair AS DOUBLE) * CAST(n_orders AS DOUBLE)"
        " / (CAST(n_orders_a AS DOUBLE) * CAST(n_orders_b AS DOUBLE))"
    )
    return f"""WITH basket0 AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
basket AS (
  SELECT * FROM basket0
  WHERE ok IN (SELECT ok FROM basket0 GROUP BY ok HAVING count(*) <= {max_items})),
pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders_pair
  FROM basket a JOIN basket b ON b.ok = a.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING count(*) >= {min_support}),
supp AS (SELECT pk, count(*) AS n FROM basket GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM basket),
j AS (
  SELECT part_a, part_b, n_orders_pair,
         sa.n AS n_orders_a, sb.n AS n_orders_b, n_orders
  FROM pairs
  JOIN supp sa ON sa.pk = part_a
  JOIN supp sb ON sb.pk = part_b
  CROSS JOIN tot)
SELECT part_a, part_b, n_orders_pair, n_orders_a, n_orders_b,
       {oracle_dquant(lift)} AS lift
FROM j"""
