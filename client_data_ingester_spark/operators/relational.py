"""Relational showcase queries over the TPC-H-ish testdata.

These exercise the engine surface the reference delegates to Postgres
(SURVEY §2.2-§2.7) at analytic scale: multi-way joins, group-bys, windows,
rollups, pivots, set ops, top-k. Money sums run on an int64 fixed-point
path: each clean 2-decimal double becomes a LONG count of units
(``_units``: ``floor(x*10^s + 0.5)``, cents for s=2), per-row products stay
exact int64, the SUM accumulates into a wide decimal (``_usum``) and the
one division back to value space happens per group (``_uval``). That is
bit-identical to ``sum(cast(x as decimal(18,2)))`` without its per-row
BigDecimal cost, and exact and engine-portable (no float-summation-order
drift against the DuckDB oracle). A few orderings, window sums and
filters still compare ``decimal(18,2)`` casts (``_money``); ratios divide
in double *after* the exact sums and round to a fixed scale.

Plan notes (verified via .explain):
- dimension joins (region/nation/customer) broadcast under AQE;
- parquet scans carry PushedFilters for every date/status predicate;
- top-k per group stays on WindowExec with partial top-k pushdown via
  row_number filter; global top-k uses TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

D182 = "decimal(18,2)"


def _money(c) -> F.Column:
    return F.col(c).cast(D182) if isinstance(c, str) else c.cast(D182)


# ---------------------------------------------------------------------------
# Exact fixed-point money arithmetic on the int64 fast path.
#
# ``sum(cast(x AS decimal(18,2)) * cast(y AS decimal(18,2)))`` is exact but
# slow at fact-table scale: the product type is decimal(37,4), and any
# precision > 18 pushes Spark's Decimal onto its BigDecimal slow path for
# EVERY row (measured at sf0.1: 0.99 s vs 0.25 s for the same 600 k-row
# ungrouped revenue sum — and the double→decimal CAST itself is another
# per-row BigDecimal.valueOf). Every money column in this corpus is a clean
# 2-decimal double (verified per column: cast(x as decimal(18,2)) ==
# floor(x*100+0.5)/100 with 0 mismatches over all tables, negatives
# included — floor(m+0.5) == m for any integer m), so the unscaled units
# long ``floor(x*10^s + 0.5)`` is value-identical to the decimal cast,
# per-row products stay exact int64 (price ≤ 10^7 cents × rate ≤ 10^2 →
# ≤ 10^9 per row, far under 2^63), and the SUM accumulates into a
# decimal(38,0) buffer so no corpus size can overflow it. The one division
# back to value space happens per GROUP, not per row. Guide §2.3
# (narrower types) + §1.2 (per-task work); results are bit-identical —
# every converted query stays on its unchanged DuckDB oracle.


def _units(c, s: int = 2) -> F.Column:
    """Exact fixed-point units (×10^s) of a clean s-decimal double, as
    LONG. NULL stays NULL (same SUM-skip semantics as the decimal cast).
    The explicit double cast is a no-op for the parquet money columns and
    keeps string-typed test fixtures castable (ANSI would reject an
    implicit '10.00'→bigint on the product)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col.cast("double") * (10 ** s) + F.lit(0.5)).cast("long")


def _usum(expr) -> F.Column:
    """Overflow-safe exact SUM of a unit-long expression: the per-row
    value stays on the int64 fast path; the accumulator is decimal(38,0)
    (long-backed until a partial sum actually exceeds 18 digits)."""
    return F.sum(expr.cast("decimal(28,0)"))


def _uval(sum_col, unit: int) -> F.Column:
    """Exact decimal value of a unit sum (÷10^unit, one op per group).
    Spark types the division decimal(38,6); the true value has ≤ unit ≤ 6
    fractional digits, so no rounding occurs and the later double cast is
    the same correctly-rounded conversion the decimal-sum form produced."""
    return sum_col / F.lit(10 ** unit)


def _udouble(sum_col, unit: int) -> F.Column:
    return _uval(sum_col, unit).cast("double")


def _avg4(total, count) -> F.Column:
    """Exact-sum average rounded half-up via floor (portable across engines;
    native ROUND implementations disagree on decimal-looking halves)."""
    x = total.cast("double") / count
    return (F.floor(x * 10000 + F.lit(0.5)) / 10000).cast("double")


def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape: big scan, 2-key groupBy, 8 aggregates.

    All money math rides the int64 units fast path (see ``_units``):
    qty/price/disc in cents (e2), disc_price = price × (100−disc) in e4,
    charge = disc_price × (100+tax) in e6 — every per-row product exact
    int64, every sum an overflow-safe decimal accumulator, one division
    per group at render. Values are bit-identical to the decimal-cast
    form (same oracle)."""
    li = lineitem.filter(F.col("l_shipdate") <= ship_cutoff)
    qty_e2 = _units("l_quantity")
    price_e2 = _units("l_extendedprice")
    disc_e2 = _units("l_discount")
    tax_e2 = _units("l_tax")
    disc_price_e4 = price_e2 * (F.lit(100) - disc_e2)
    charge_e6 = disc_price_e4 * (F.lit(100) + tax_e2)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _udouble(_usum(qty_e2), 2).alias("sum_qty"),
            _udouble(_usum(price_e2), 2).alias("sum_base_price"),
            _udouble(_usum(disc_price_e4), 4).alias("sum_disc_price"),
            _udouble(_usum(charge_e6), 6).alias("sum_charge"),
            _avg4(_uval(_usum(qty_e2), 2), F.count(F.lit(1))).alias("avg_qty"),
            _avg4(_uval(_usum(price_e2), 2), F.count(F.lit(1))).alias(
                "avg_price"
            ),
            _avg4(_uval(_usum(disc_e2), 2), F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def top_unshipped_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1995-03-15",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-way join → agg → global top-k.

    customer is broadcast (small after the segment filter); the global top-k
    rides TakeOrderedAndProject, never a full sort."""
    c = customer.filter(F.col("c_mktsegment") == segment)
    o = orders.filter(F.col("o_orderdate") < cutoff)
    l = lineitem.filter(F.col("l_shipdate") > cutoff)
    revenue = _udouble(
        _usum(_units("l_extendedprice") * (F.lit(100) - _units("l_discount"))), 4
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(k)
    )


def regional_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: snowflake join (2 broadcast dims + 2 fact joins) →
    revenue per nation."""
    revenue = _udouble(
        _usum(_units("l_extendedprice") * (F.lit(100) - _units("l_discount"))), 4
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(revenue.alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def topk_parts_per_brand(part: DataFrame, k: int = 3) -> DataFrame:
    """Top-k per group via ranked window (ties broken by key for stability)."""
    w = Window.partitionBy("p_brand").orderBy(
        F.desc(_money("p_retailprice")), F.col("p_partkey")
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "p_brand",
            "p_partkey",
            "p_name",
            "rank",
            _money("p_retailprice").cast("double").alias("retailprice"),
        )
    )


def returnflag_rollup(lineitem: DataFrame) -> DataFrame:
    """ROLLUP aggregate (grand total + per-flag subtotals + leaves)."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _udouble(_usum(_units("l_quantity")), 2).alias("sum_qty"),
        )
    )


def status_pivot(lineitem: DataFrame) -> DataFrame:
    """Pivot by linestatus (expressed as conditional aggs — portable SQL)."""
    qty_e2 = _units("l_quantity")
    return lineitem.groupBy("l_returnflag").agg(
        _udouble(
            _usum(
                F.when(F.col("l_linestatus") == "O", qty_e2).otherwise(
                    F.lit(0).cast("long")
                )
            ),
            2,
        ).alias("qty_o"),
        _udouble(
            _usum(
                F.when(F.col("l_linestatus") == "F", qty_e2).otherwise(
                    F.lit(0).cast("long")
                )
            ),
            2,
        ).alias("qty_f"),
    )


def customer_order_setops(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Set operations: customers with urgent orders EXCEPT low-balance ones,
    UNION customers with 5-URGENT... exercises intersect/except/union."""
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    rich = customer.filter(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("custkey")
    )
    high = (
        orders.filter(_units("o_totalprice") > F.lit(200000 * 100))
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return (
        urgent.intersect(rich).exceptAll(high).union(high.intersect(urgent))
        .distinct()
        .withColumn("flag", F.lit(1))
    )


def supplier_balance_distribution(supplier: DataFrame, nation: DataFrame) -> DataFrame:
    """Distinct-agg + conditional-agg mix per nation (broadcast dim join)."""
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.countDistinct("s_suppkey").alias("n_distinct"),
            F.sum(
                (F.col("s_acctbal") > 0).cast("long")
            ).alias("n_positive"),
            _udouble(_usum(_units("s_acctbal")), 2).alias("total_bal"),
        )
    )


def status_priority_cube(orders: DataFrame) -> DataFrame:
    """CUBE aggregate: all grouping-set combinations of (status, priority)."""
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _udouble(_usum(_units("o_totalprice")), 2).alias("total"),
    )


def status_priority_grouping_sets(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS — the general form CUBE/ROLLUP specialize
    (each marginal separately + grand total, NOT the full cross product),
    with grouping_id disambiguating which set produced each row (a NULL key
    from the data vs a NULL from the rollup are different things)."""
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            _udouble(_usum(_units("o_totalprice")), 2).alias("total"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """NOT EXISTS via left-anti join (the dual of Q4's left-semi): customers
    who never placed an URGENT order."""
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return customer.join(
        urgent, customer.c_custkey == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def region_nation_rollcall(region: DataFrame, nation: DataFrame) -> DataFrame:
    """Ordered string aggregation per group (listagg shape): nations per
    region, alphabetically joined — Spark sort_array(collect_list) ≡ SQL
    STRING_AGG(... ORDER BY)."""
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


def orders_window_funcs(orders: DataFrame) -> DataFrame:
    """Window-function battery per customer: order sequence (row_number),
    price rank/dense_rank, previous order date (lag), running spend (sum over
    rows-preceding). One shuffle on o_custkey."""
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_price = Window.partitionBy("o_custkey").orderBy(
        F.desc(_money("o_totalprice")), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.row_number().over(w_seq).alias("order_seq"),
        F.rank().over(w_price).alias("price_rank"),
        F.dense_rank().over(w_price).alias("price_dense_rank"),
        F.lag("o_orderdate").over(w_seq).alias("prev_order_date"),
        F.sum(_money("o_totalprice"))
        .over(w_seq.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
    )


def balance_quantiles(customer: DataFrame) -> DataFrame:
    """Exact quantiles (linear interpolation) per market segment — the exact
    twin of percentile_approx; both engines interpolate identically on
    identical doubles."""
    med = F.expr("percentile(c_acctbal, 0.5)")
    p90 = F.expr("percentile(c_acctbal, 0.9)")
    r4 = lambda c: (F.floor(c * 10000 + F.lit(0.5)) / 10000).cast(  # noqa: E731
        "double"
    )
    return customer.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        r4(med).alias("median_bal"),
        r4(p90).alias("p90_bal"),
    )


def parts_above_brand_avg(part: DataFrame) -> DataFrame:
    """Correlated-subquery shape (price above the brand's average), decorrelated
    as window-avg — no self-join, one shuffle on p_brand."""
    w = Window.partitionBy("p_brand")
    # exact decimal sum over the window, then one double division — windowed
    # AVG on doubles is summation-order-dependent and not engine-portable
    avg_price = (
        F.sum(_money("p_retailprice")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        part.withColumn("brand_avg", avg_price)
        .filter(_money("p_retailprice").cast("double") > F.col("brand_avg"))
        .select(
            "p_partkey",
            "p_brand",
            _money("p_retailprice").cast("double").alias("retailprice"),
            (F.floor(F.col("brand_avg") * 10000 + F.lit(0.5)) / 10000)
            .cast("double")
            .alias("brand_avg"),
        )
    )


def date_string_funcs(orders: DataFrame) -> DataFrame:
    """Scalar-function battery (date parts + string ops) aggregated so the
    output is compact: orders per (year, quarter, priority-prefix)."""
    return (
        orders.select(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.substring(F.col("o_orderpriority"), 1, 1).alias("prio"),
            F.upper(F.col("o_orderstatus")).alias("status"),
            F.length(F.concat_ws("-", "o_orderpriority", "o_orderstatus")).alias(
                "tag_len"
            ),
        )
        .groupBy("y", "q", "prio", "status", "tag_len")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def order_priority_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: EXISTS via left-semi join (orders having ≥1 line item
    shipped after the order date)."""
    l = lineitem.select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            l,
            (orders.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def large_volume_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    qty_threshold: int = 200,
    limit: int = 100,
) -> DataFrame:
    """TPC-H Q18 shape: agg-filtered semi-join (HAVING subquery).

    The classic formulation scans lineitem twice (once in the IN-subquery,
    once in the outer join); here the per-order quantity aggregate IS the
    join input — one lineitem shuffle on l_orderkey total. The filtered
    aggregate is selective (the whole point of the HAVING), so it
    broadcasts to both the orders and customer joins: at 100 TB neither
    fact table shuffles for this query at all. Deterministic top-k: the
    sort key ends in the unique o_orderkey so LIMIT ties can't flap
    between engines.
    """
    qty = (
        lineitem.groupBy("l_orderkey")
        .agg(_usum(_units("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > qty_threshold * 100)
    )
    return (
        orders.join(
            F.broadcast(qty), orders.o_orderkey == qty.l_orderkey
        )
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            _money("o_totalprice").cast("double").alias("o_totalprice"),
            _udouble(F.col("_qty"), 2).alias("total_qty"),
        )
        .orderBy(
            F.desc("o_totalprice"), F.col("o_orderdate"), F.col("o_orderkey")
        )
        .limit(limit)
    )


def volume_shipping(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    nations: tuple = ("NATION_1", "NATION_2", "NATION_3", "NATION_4"),
) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by (supplier nation, customer
    nation, year) restricted to a nation set.

    Two broadcast copies of the nation dim (supplier side and customer
    side) carry the nation-set filters INTO the joins, so the fact-side
    rows of out-of-set nations are dropped at the join instead of after
    it; the inequality (cross-border only) is a cheap post-join residual.
    Revenue is the exact-decimal money sum, cast once.
    """
    n1 = nation.filter(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("_n1_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = nation.filter(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("_n2_key"),
        F.col("n_name").alias("cust_nation"),
    )
    revenue = _udouble(
        _usum(_units("l_extendedprice") * (F.lit(100) - _units("l_discount"))), 4
    )
    return (
        lineitem.join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("_n1_key"))
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n2), customer.c_nationkey == F.col("_n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .withColumn("l_year", F.year(F.col("l_shipdate")).cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(revenue.alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def order_count_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    including the zero-order customers an inner join would drop.

    Orders are REDUCED (groupBy o_custkey) before the join, so the shuffle
    carries one row per customer instead of one per order — at 100 TB
    that's the difference between shuffling ~1.5B rows and ~150M. The
    zero bucket comes from the left join's nulls, not a separate anti-join
    pass. The second aggregation (histogram of counts) is tiny.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        customer.join(
            per_cust, customer.c_custkey == per_cust.o_custkey, "left_outer"
        )
        .select(F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def top_revenue_suppliers(
    supplier: DataFrame,
    lineitem: DataFrame,
    ship_start: str = "1996-01-01",
    ship_end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue in a quarter.

    The classic SQL computes the revenue view twice (once for MAX, once to
    filter); here the global max is a scalar ``.agg(max)`` over the
    ALREADY-AGGREGATED per-supplier relation, broadcast back via a 1-row
    crossJoin. Both the scalar and the filter consume the SAME per-suppkey
    shuffle — Spark's ReusedExchange keeps it one lineitem scan — and the
    1-row side rides BroadcastNestedLoopJoin, so no relation (the supplier
    domain grows ~linearly with scale factor) is ever funneled through a
    single-partition window. The max-equality filter runs on exact
    decimals, so revenue ties are exact (no float '==' flakiness), and
    ALL tied suppliers are returned per Q15 semantics.
    """
    li = lineitem.filter(
        (F.col("l_shipdate") >= ship_start)
        & (F.col("l_shipdate") < ship_end)
        # explicit isnotnull so BOTH consumers of the per-suppkey shuffle
        # (the scalar max and the equality filter) canonicalize to the
        # same subtree — otherwise the supplier join infers the null
        # filter on one branch only and ReusedExchange can't fire
        # (suppkey is a non-null FK; a null group couldn't survive the
        # final inner join anyway)
        & F.col("l_suppkey").isNotNull()
    )
    rev = li.groupBy("l_suppkey").agg(
        _usum(
            _units("l_extendedprice") * (F.lit(100) - _units("l_discount"))
        ).alias("_rev")
    )
    mx = rev.agg(F.max("_rev").alias("_mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("_rev") == F.col("_mx")
    )
    return (
        supplier.join(
            F.broadcast(top), supplier.s_suppkey == top.l_suppkey
        )
        .select(
            "s_suppkey",
            "s_name",
            _udouble(F.col("_rev"), 4).alias("total_revenue"),
        )
    )


def idle_rich_customers(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    idle_since: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22 shape (phone-prefix swapped for nation — this schema has
    no c_phone): per-nation count and total balance of customers whose
    balance beats the positive-balance average AND who placed no order
    since ``idle_since`` (every customer in this dataset has SOME order,
    so "idle" is time-windowed, as in a real churn query).

    The scalar threshold is one (sum, count) row broadcast into a
    nested-loop join, and the comparison is INTEGER-EXACT:
    ``bal * n > total`` in decimal arithmetic instead of ``bal > avg``
    in floats, so no engine-specific AVG rounding can flip a boundary
    customer. The "no recent order" predicate is a left-anti join on the
    date-filtered orders (NOT EXISTS at scale — the filter shrinks the
    anti-join's build input before it shuffles), and nation broadcasts.
    """
    bal_e2 = _units("c_acctbal")
    stats = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(
            _usum(bal_e2).alias("_tot"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    recent = orders.filter(F.col("o_orderdate") >= idle_since)
    rich = (
        customer.join(F.broadcast(stats))
        # bal_e2 × n vs tot_e2: the same integer-exact comparison as the
        # decimal form (both sides in cents), on the int64 fast path
        .filter(bal_e2 * F.col("_n") > F.col("_tot"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        rich.join(
            F.broadcast(nation), rich.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _udouble(_usum(bal_e2), 2).alias("totacctbal"),
        )
    )


def forecast_revenue_change(
    lineitem: DataFrame,
    ship_start: str = "1996-01-01",
    ship_end: str = "1997-01-01",
    disc_min: float = 0.05,
    disc_max: float = 0.07,
    qty_max: int = 24,
) -> DataFrame:
    """TPC-H Q6 shape: scalar what-if revenue (discounted volume that would
    have been earned without the discount).

    Every predicate compares RAW parquet columns against literals — no
    casts on the column side — so all four filters reach the scan as
    PushedFilters and row groups outside the date/discount/quantity
    ranges never leave storage. The money math (exact decimal
    price*discount) happens only on surviving rows.
    """
    li = lineitem.filter(
        (F.col("l_shipdate") >= ship_start)
        & (F.col("l_shipdate") < ship_end)
        & (F.col("l_discount") >= disc_min)
        & (F.col("l_discount") <= disc_max)
        & (F.col("l_quantity") < qty_max)
    )
    return li.agg(
        _udouble(
            _usum(_units("l_extendedprice") * _units("l_discount")), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_2",
    region_name: str = "ASIA",
    part_type: str = "PROMO",
    order_start: str = "1995-01-01",
    order_end: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share inside a region's market
    for one part type, by order year.

    The market is defined on the CUSTOMER side (region filter travels
    broadcast nation⨝region → customer join), the share on the SUPPLIER
    side (conditional sum on the supplier's nation). Both nation lookups
    broadcast; the part-type filter prunes lineitem through the part join
    (part is a real table, not broadcast-forced — at 100 TB a 1-in-6 type
    slice of part is shuffle-join material and AQE picks the strategy).
    Share = exact-decimal sums, divided in double AFTER aggregation and
    floor-rounded to 4 — one canonical value on both engines.
    """
    p = part.filter(F.col("p_type") == part_type).select("p_partkey")
    asia_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            nation.n_regionkey == region.r_regionkey,
        )
        .select(F.col("n_nationkey").alias("_cn_key"))
    )
    supp_n = nation.select(
        F.col("n_nationkey").alias("_sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    o = orders.filter(
        (F.col("o_orderdate") >= order_start)
        & (F.col("o_orderdate") < order_end)
    )
    vol = _units("l_extendedprice") * (
        F.lit(100) - _units("l_discount")
    )
    joined = (
        lineitem.join(p, lineitem.l_partkey == p.p_partkey)
        .join(o, lineitem.l_orderkey == o.o_orderkey)
        .join(customer, o.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(asia_nations),
            customer.c_nationkey == F.col("_cn_key"),
        )
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(supp_n), supplier.s_nationkey == F.col("_sn_key"))
        .select(
            F.year(F.col("o_orderdate")).cast("int").alias("o_year"),
            vol.alias("_vol"),
            F.col("supp_nation"),
        )
    )
    agg = joined.groupBy("o_year").agg(
        _usum(
            F.when(F.col("supp_nation") == target_nation, F.col("_vol"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("_num"),
        _usum(F.col("_vol")).alias("_den"),
    )
    share = (
        F.floor(
            _udouble(F.col("_num"), 4) / _udouble(F.col("_den"), 4)
            * 10000
            + F.lit(0.5)
        )
        / 10000
    ).cast("double")
    return agg.select(
        "o_year",
        share.alias("mkt_share"),
        _udouble(F.col("_den"), 4).alias("total_volume"),
    )


def returned_item_losses(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    order_start: str = "1995-10-01",
    order_end: str = "1996-01-01",
    limit: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: top customers by revenue lost to returned items in
    a quarter.

    The date filter prunes orders BEFORE the lineitem join (the quarter
    slice is what makes the join's build side small), the returnflag
    filter is pushed into the lineitem scan, nation broadcasts, and the
    global top-k compiles to TakeOrderedAndProject — no full sort of the
    grouped relation. Sort key ends in the unique c_custkey so the LIMIT
    is deterministic across engines.
    """
    o = orders.filter(
        (F.col("o_orderdate") >= order_start)
        & (F.col("o_orderdate") < order_end)
    )
    li = lineitem.filter(F.col("l_returnflag") == "R")
    revenue = _usum(
        _units("l_extendedprice") * (F.lit(100) - _units("l_discount"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(customer, o.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_udouble(revenue, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(limit)
    )


def promo_revenue_share(
    lineitem: DataFrame,
    part: DataFrame,
    ship_start: str = "1996-03-01",
    ship_end: str = "1996-04-01",
    promo_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q14 shape: share of a month's revenue earned by promo parts.

    The one-month shipdate slice is pushed into the lineitem scan before
    the part join (the month is what bounds the join, not the part side),
    and the share is a conditional sum over ONE joined pass — never two
    scans. Exact-decimal sums; one double division floor-rounded to 4.
    """
    li = lineitem.filter(
        (F.col("l_shipdate") >= ship_start) & (F.col("l_shipdate") < ship_end)
    )
    vol = _units("l_extendedprice") * (F.lit(100) - _units("l_discount"))
    joined = li.join(part, li.l_partkey == part.p_partkey).select(
        vol.alias("_vol"),
        (F.col("p_type") == promo_type).alias("_is_promo"),
    )
    agg = joined.agg(
        _usum(
            F.when(F.col("_is_promo"), F.col("_vol")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("_promo"),
        _usum(F.col("_vol")).alias("_total"),
    )
    share = (
        F.floor(
            _udouble(F.col("_promo"), 4) / _udouble(F.col("_total"), 4)
            * 100 * 10000 + F.lit(0.5)
        ) / 10000
    ).cast("double")
    return agg.select(
        share.alias("promo_revenue_pct"),
        _udouble(F.col("_promo"), 4).alias("promo_revenue"),
        _udouble(F.col("_total"), 4).alias("total_revenue"),
    )


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#13",
    qty_fraction: float = 0.2,
) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's average quantity) were not filled.

    The correlated scalar subquery (per-part avg quantity) is decorrelated
    into a pre-aggregated per-part relation joined back to the brand
    slice — the aggregate runs over the BRAND-FILTERED lineitem keys only
    (semi-join reduction first, then aggregate), not the whole fact table,
    and the threshold comparison is a cheap hash-join probe. This is the
    plan a correlated subquery should decorrelate to at 100 TB.

    The threshold test is EXACT: ``qty * n * denom < sum_qty * num``
    (``qty_fraction`` as a rational) in decimal arithmetic instead of
    ``qty < avg * fraction`` in floats — a double AVG is a partition-
    order-dependent sum, so a boundary lineitem could drift in or out of
    ``small`` between runs/engines (the module-wide float-'==' rule).
    """
    from fractions import Fraction

    fr = Fraction(qty_fraction).limit_denominator(1_000_000)
    bp = part.filter(F.col("p_brand") == brand).select("p_partkey")
    br_li = lineitem.join(bp, lineitem.l_partkey == bp.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    q_e2 = _units("l_quantity")
    thresholds = br_li.groupBy("l_partkey").agg(
        _usum(q_e2).alias("_sum_q"), F.count(F.lit(1)).alias("_n_q")
    ).select(F.col("l_partkey").alias("_tp_key"), "_sum_q", "_n_q")
    small = br_li.join(
        thresholds, br_li.l_partkey == F.col("_tp_key")
    ).filter(
        # both sides in cents: same exact rational comparison as the
        # decimal form, per-row work on the int64 fast path
        q_e2 * F.col("_n_q") * F.lit(fr.denominator)
        < F.col("_sum_q") * F.lit(fr.numerator)
    )
    avg_yearly = (
        F.floor(
            _udouble(_usum(_units("l_extendedprice")), 2) / 7.0 * 10000
            + F.lit(0.5)
        ) / 10000
    ).cast("double")
    return small.agg(
        avg_yearly.alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_lines"),
    )


def disjunctive_predicate_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of brand/size/quantity
    conjunctions (adapted to the testdata's columns).

    The disjunction mixes part-side and lineitem-side predicates, so no
    single branch can prune either scan alone — but the per-side
    envelopes CAN: Catalyst pushes the derived ``l_quantity BETWEEN
    min(all branches) AND max(all branches)`` and ``p_size <= 15`` bounds
    to the scans, and the exact disjunction evaluates post-join. The join
    stays a plain partkey equi-join; the OR never becomes a union of
    three join passes.
    """
    vol = _units("l_extendedprice") * (F.lit(100) - _units("l_discount"))
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            _udouble(_usum(vol), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def supplier_variety(
    lineitem: DataFrame,
    part: DataFrame,
    exclude_brand: str = "Brand#45",
    exclude_type: str = "MEDIUM",
    sizes: tuple = (1, 4, 9, 14, 19, 23, 36, 49),
    limit: int = 50,
) -> DataFrame:
    """TPC-H Q16 shape (partsupp adapted to the lineitem supplier
    relation): how many distinct suppliers have shipped each surviving
    (brand, type, size) part bucket.

    The part-side NOT-predicates and the size IN-list are all pushed into
    the part scan; lineitem arrives as a (partkey, suppkey) projection —
    two columns off the fact table — and the distinct-supplier count is a
    two-stage aggregate (partial distinct per partition, merge on the
    group key). Top-k by variety rides TakeOrderedAndProject.
    """
    p = part.filter(
        (F.col("p_brand") != exclude_brand)
        & (~F.col("p_type").startswith(exclude_type))
        & (F.col("p_size").isin(*sizes))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    ps = lineitem.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
        .limit(limit)
    )


def profit_by_nation_year(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    name_fragment: str = "widget",
) -> DataFrame:
    """TPC-H Q9 shape (no partsupp in the testdata, so profit =
    discounted revenue): profit by supplier nation and order year for
    parts whose name contains a fragment.

    The contains-filter prunes part FIRST (it's the most selective
    input), then lineitem joins the surviving partkeys; orders is joined
    only for its date (2-column projection), supplier only for its
    nationkey, and the nation name broadcasts. Group-by lands on the
    already-small (nation, year) domain.
    """
    p = part.filter(F.col("p_name").contains(name_fragment)).select("p_partkey")
    vol = _units("l_extendedprice") * (F.lit(100) - _units("l_discount"))
    o = orders.select("o_orderkey", "o_orderdate")
    s = supplier.select("s_suppkey", "s_nationkey")
    return (
        lineitem.join(p, lineitem.l_partkey == p.p_partkey)
        .join(o, lineitem.l_orderkey == o.o_orderkey)
        .join(s, lineitem.l_suppkey == s.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate")).cast("int").alias("o_year"),
            vol.alias("_vol"),
        )
        .groupBy("nation", "o_year")
        .agg(_udouble(_usum(F.col("_vol")), 4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def late_shipment_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    late_days: int = 60,
) -> DataFrame:
    """TPC-H Q12 shape (commit/receipt dates adapted to ship-lag): orders
    whose lineitems shipped more than ``late_days`` after the order date,
    bucketed into high/low priority conditional counts.

    The lag predicate needs both sides, so it evaluates post-join — but
    both inputs arrive as minimal projections (3 and 3 columns), the join
    is the natural orderkey equi-join, and the output domain is the
    5-row priority dimension with the classic Q12 conditional-count
    pivot folded into one aggregate pass.
    """
    joined = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = joined.filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), late_days)
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long").alias("low_line_count"),
            F.count(F.lit(1)).alias("late_lines"),
        )
        .orderBy("o_orderpriority")
    )


def waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    late_days: int = 60,
    limit: int = 50,
) -> DataFrame:
    """TPC-H Q21 shape (commit/receipt adapted to ship-lag): suppliers who
    were the SOLE late shipper in a finished multi-supplier order.

    The classic EXISTS/NOT-EXISTS pair of correlated subqueries is
    decorrelated into ONE grouped pass: per (order, supplier) fold the
    late flag, then the per-order supplier/late-supplier counts ride a
    WINDOW over the already-folded relation partitioned by orderkey (the
    q15 pattern — no join-back, so the fact table is scanned exactly
    once even in the static plan), and the qualifying predicate
    (``is_late AND n_supp > 1 AND n_late = 1``) is a plain filter. The
    window input is one row per (order, supplier) — orderkey-partitioned,
    uniform (1-7 suppliers/order), never the fact table. Two shuffles
    total; the supplier and nation dims broadcast.
    """
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), late_days)
    per_os = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("_is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    sole_late = (
        per_os.withColumn("_n_supp", F.count(F.lit(1)).over(w))
        .withColumn("_n_late", F.sum("_is_late").over(w))
        .filter(
            (F.col("_is_late") == 1)
            & (F.col("_n_supp") > 1)
            & (F.col("_n_late") == 1)
        )
    )
    return (
        sole_late.join(
            F.broadcast(supplier.select("s_suppkey", "s_name", "s_nationkey")),
            sole_late.l_suppkey == F.col("s_suppkey"),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy("s_name", F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(limit)
    )


def min_cost_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    region_name: str = "EUROPE",
    max_size: int = 15,
    part_type: str = "STANDARD",
    limit: int = 100,
) -> DataFrame:
    """TPC-H Q2 shape (partsupp adapted to observed sale prices): for each
    part in a size/type slice, the in-region supplier with the lowest
    observed sale price.

    The correlated ``= (SELECT MIN(...))`` subquery decorrelates into a
    per-part MIN window over the region-restricted (part, supplier) cost
    relation (q15 pattern: no join-back, one fact scan even statically)
    — ties keep every minimal supplier, exactly like the reference
    query. Cost is an exact-decimal MIN (portable — no float-order
    drift, and the min-equality filter can't flake), the region
    restriction prunes the cost relation BEFORE the fold, the part-slice
    probe prunes before the min window runs (smaller window input), and
    supplier/nation/region all broadcast. The only fact-table shuffle is
    the (partkey, suppkey) cost fold; the window repartitions the
    folded relation (one row per part-supplier pair) by partkey.
    """
    in_region = (
        supplier.select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == region.r_regionkey,
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    slice_parts = part.filter(
        (F.col("p_size") <= max_size) & (F.col("p_type") == part_type)
    ).select("p_partkey", "p_type")
    cost = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(F.broadcast(in_region), F.col("l_suppkey") == in_region.s_suppkey)
        .join(F.broadcast(slice_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey", "p_type")
        # MIN over cents orders identically to MIN over the decimal cast
        # (both exact images of the same values), on the int64 fast path
        .agg(F.min(_units("l_extendedprice")).alias("_unit_cost"))
    )
    best = cost.withColumn(
        "_min_cost", F.min("_unit_cost").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("_unit_cost") == F.col("_min_cost"))
    return (
        best.join(
            F.broadcast(in_region), best.l_suppkey == in_region.s_suppkey
        )
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("l_partkey").alias("p_partkey"),
            "p_type",
            _udouble(F.col("_unit_cost").cast("decimal(28,0)"), 2).alias(
                "min_cost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "nation", "s_name", "p_partkey")
        .limit(limit)
    )


def important_part_values(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region_key: int = 3,
    fraction_denom: int = 1000,
) -> DataFrame:
    """TPC-H Q11 shape (partsupp value adapted to discounted revenue):
    parts whose revenue from one region's suppliers exceeds a fixed
    fraction of that region's total.

    The scalar ``> (SELECT SUM(...) * fraction)`` subquery becomes a
    scalar ``.agg(sum)`` over the ALREADY-AGGREGATED per-part relation,
    broadcast back via a 1-row crossJoin (the q15 pattern — both the
    scalar and the filter consume the same per-partkey shuffle, so
    ReusedExchange keeps one fact scan, and the part domain — which grows
    linearly with scale factor — never funnels through a one-partition
    window). The threshold test is EXACT decimal arithmetic —
    ``value * denom > total`` with integer ``denom`` — so the boundary
    can't flip between engines the way a float multiply could. One
    fact-table shuffle (partkey fold); the region's supplier set
    broadcasts into the scan-side join.
    """
    region_supp = (
        supplier.select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nation.filter(F.col("n_regionkey") == region_key)),
            F.col("s_nationkey") == nation.n_nationkey,
        )
        .select("s_suppkey")
    )
    vol = _units("l_extendedprice") * (F.lit(100) - _units("l_discount"))
    per_part = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(region_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(_usum(vol).alias("_value"))
    )
    total = per_part.agg(F.sum("_value").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_value") * fraction_denom > F.col("_total"))
        .select("partkey", _udouble(F.col("_value"), 4).alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )


def dominant_part_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_fragment: str = "widget",
    share_mult: int = 2,
) -> DataFrame:
    """TPC-H Q20 shape (availqty adapted to shipped-quantity share):
    suppliers that shipped more than ``share_mult``× their fair share of
    some part in a name slice.

    The nested IN(IN(...)) subquery chain decorrelates into a per-(part,
    supplier) quantity fold with the per-part total+count riding a
    partkey-partitioned WINDOW over the folded relation (one fact scan,
    no join-back), and an exact-decimal dominance test
    ``supp_qty * n_supp > share_mult * part_qty`` — the fair-share form
    is scale-free (a fixed percentage would silently go empty as the
    supplier pool grows with the corpus). The semi-join back to
    suppliers is the final DISTINCT projection; the name-slice filter
    prunes part before the fact join.
    """
    slice_parts = part.filter(
        F.col("p_name").contains(name_fragment)
    ).select("p_partkey")
    pq = (
        lineitem.select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(slice_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(_usum(_units("l_quantity")).alias("_supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        pq.withColumn("_part_qty", F.sum("_supp_qty").over(w))
        .withColumn("_n_supp", F.count(F.lit(1)).over(w))
        .filter(
            F.col("_supp_qty") * F.col("_n_supp")
            > share_mult * F.col("_part_qty")
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        dominant.join(
            F.broadcast(supplier.select("s_suppkey", "s_name", "s_nationkey")),
            dominant.l_suppkey == F.col("s_suppkey"),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


def winsorized_balance_stats(
    customer: DataFrame, lo_q: float = 0.05, hi_q: float = 0.95
) -> DataFrame:
    """Outlier-robust per-segment account stats: clamp balances to the
    segment's exact [p05, p95] (winsorizing) before aggregating, plus the
    clamp tallies — the data-prep step that keeps a few extreme rows from
    dominating a mean.

    Numeric discipline: the percentile bounds are computed in double
    (exact sort-based percentile — portable, see balance_quantiles),
    floor-rounded at 2 decimals and cast to DECIMAL so the clamp and the
    re-aggregation run ENTIRELY in exact decimal arithmetic (clamping
    doubles then summing would be partition-order-dependent). Scale note:
    exact percentile buffers each group's values — right for
    dimension-scale relations like customer; for fact-scale winsorizing
    use the mergeable histogram sketch (sketch.hist_quantiles) to pick
    bounds instead.
    """
    r2dec = lambda c: (  # noqa: E731
        F.floor(c * 100 + F.lit(0.5)) / 100
    ).cast(D182)
    bounds = customer.groupBy("c_mktsegment").agg(
        r2dec(F.expr(f"percentile(c_acctbal, {lo_q})")).alias("_lo"),
        r2dec(F.expr(f"percentile(c_acctbal, {hi_q})")).alias("_hi"),
    )
    bal = _money("c_acctbal")
    # CASE-shaped clamp, not least/greatest: Spark's greatest/least SKIP
    # null arguments, so a NULL balance would clamp to the lower bound
    # and pollute the sum; the when-chain keeps NULL as NULL (excluded
    # from SUM in both engines, still counted in n)
    clamped = customer.join(F.broadcast(bounds), "c_mktsegment").select(
        "c_mktsegment",
        F.when(bal < F.col("_lo"), F.col("_lo"))
        .when(bal > F.col("_hi"), F.col("_hi"))
        .otherwise(bal)
        .alias("_cl"),
        F.coalesce((bal < F.col("_lo")).cast("int"), F.lit(0)).alias("_is_lo"),
        F.coalesce((bal > F.col("_hi")).cast("int"), F.lit(0)).alias("_is_hi"),
    )
    return clamped.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_cl").cast("double").alias("winsorized_sum"),
        _avg4(F.sum("_cl"), F.count(F.lit(1))).alias("winsorized_mean"),
        F.sum("_is_lo").cast("long").alias("n_clamped_lo"),
        F.sum("_is_hi").cast("long").alias("n_clamped_hi"),
    )


def winsorized_fact_stats(
    lineitem: DataFrame,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    domain_lo: float = 0.0,
    domain_hi: float = 110000.0,
    n_bins: int = 220,
) -> DataFrame:
    """FACT-SCALE winsorizing — the route ``winsorized_balance_stats``'s
    docstring recommends beyond dimension scale, now scored: clamp
    ``l_extendedprice`` per returnflag to bounds read from the MERGEABLE
    HISTOGRAM SKETCH (``sketch.hist_registers``) instead of an exact
    percentile. Sketch state is ≤ ``n_bins`` register rows per group no
    matter how many fact rows exist — no per-group buffering of raw
    values anywhere in the plan (exact ``percentile`` holds every value
    of a group in one aggregation buffer; at 100 TB that's an executor
    OOM, and a sort-based exact rank is a full fact shuffle).

    Plan shape: two fact scans — one map-side-combined register build
    (shuffle carries ≤ groups × n_bins rows), one clamp+re-aggregate with
    the tiny bounds relation broadcast. Bound values are deterministic
    bin edges (error ≤ one bin width — the sketch trade), floor-rounded
    to 2 decimals and cast to DECIMAL so the clamp and the re-aggregation
    run in exact decimal arithmetic like the dimension-scale variant.
    """
    from .sketch import hist_quantiles, hist_registers

    regs = hist_registers(
        lineitem, "l_extendedprice", domain_lo, domain_hi, n_bins,
        group_cols=["l_returnflag"],
    )
    q_bounds = hist_quantiles(
        regs, [lo_q, hi_q], domain_lo, domain_hi, n_bins,
        group_cols=["l_returnflag"],
    )
    # bound edges in CENTS (exact image of the decimal-cast bound — the
    # clamp, tallies, and sums below all run on the int64 fast path)
    r2cents = _units(F.col("est_value"))
    bounds = q_bounds.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("q") == F.lit(float(lo_q)), r2cents)).alias("_lo"),
        F.max(F.when(F.col("q") == F.lit(float(hi_q)), r2cents)).alias("_hi"),
    )
    price_e2 = _units("l_extendedprice")
    # CASE-shaped clamp (not least/greatest) for the same NULL reason as
    # the dimension-scale variant
    clamped = lineitem.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        F.when(price_e2 < F.col("_lo"), F.col("_lo"))
        .when(price_e2 > F.col("_hi"), F.col("_hi"))
        .otherwise(price_e2)
        .alias("_cl"),
        F.coalesce((price_e2 < F.col("_lo")).cast("int"), F.lit(0)).alias(
            "_is_lo"
        ),
        F.coalesce((price_e2 > F.col("_hi")).cast("int"), F.lit(0)).alias(
            "_is_hi"
        ),
    )
    return clamped.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _udouble(_usum(F.col("_cl")), 2).alias("winsorized_sum"),
        _avg4(_uval(_usum(F.col("_cl")), 2), F.count(F.lit(1))).alias(
            "winsorized_mean"
        ),
        F.sum("_is_lo").cast("long").alias("n_clamped_lo"),
        F.sum("_is_hi").cast("long").alias("n_clamped_hi"),
    )
