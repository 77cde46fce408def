"""TPC-H join-shape suite over the fixture star schema.

The round-1 star queries (``starschema.py``) pinned the scan/agg/top-k
pipeline (Q1/Q3/Q5/Q6 shapes).  This module adds the *join shapes* the
engine had not yet exercised end-to-end — each query is the classic
TPC-H pattern restated for the fixture's columns (no partsupp/comment
columns exist, so Q2/Q11/Q20 are out of reach; Q16/Q12/Q21 are restated
on the columns that do exist; the remaining join mechanics are covered
by the shapes below):

 - EXISTS semi-join            -> ``star_late_order_priority``  (Q4)
 - multi-nation 6-way join     -> ``star_nation_trade``         (Q7)
 - conditional-share agg       -> ``star_market_share``         (Q8)
 - join + derived profit       -> ``star_profit_by_nation``     (Q9)
 - join + global top-k         -> ``star_returned_revenue``     (Q10)
 - LEFT OUTER + double agg     -> ``star_order_count_distribution`` (Q13)
 - ratio-of-sums               -> ``star_promo_revenue``        (Q14)
 - scalar-subquery max filter  -> ``star_top_supplier``         (Q15)
 - per-key-avg semi filter     -> ``star_small_qty_revenue``    (Q17)
 - HAVING + join-back          -> ``star_big_orders``           (Q18)
 - OR-of-ANDs join predicate   -> ``star_brand_revenue``        (Q19)
 - NOT EXISTS anti-join        -> ``star_idle_customers``       (Q22)
 - conditional two-way count   -> ``star_linestatus_priority``  (Q12)
 - double-EXISTS self-join,
   restated as one aggregate   -> ``star_sole_late_supplier``   (Q21)

Beyond the reference's surface: beam-scala-examples has no relational
workload (SURVEY §2.4 tops out at two-input CoGroupByKey,
``cookbook/JoinExamples.scala:70-101``); these queries are the coverage
a user switching their analytics onto this engine needs.

Determinism: all money maths ride exact integer cents
(``operators/agg.py``); thresholds against per-key averages are
restated as integer cross-multiplications (``5*qty*cnt < sum``) so no
engine ever compares against an order-dependent double.  Share/ratio
columns divide two exact longs — both engines produce the identical
IEEE double.

Scale posture: fact-to-fact joins (lineitem-orders, lineitem-part)
shuffle on their keys and are AQE-sized; nation/region and the scalar
aggregates are broadcast; semi/anti joins keep the fact side un-widened
(no payload columns cross the shuffle); top-k goes through the rank's
WindowGroupLimit.  Per-key-average filters use aggregate-then-join, not
a window over the fact table (a window would sort every fact partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.agg import cents
from ..operators.pairs import self_pairs
from ..operators.topk import top_k_per_key
from ..session import memo
from ..tables import load


def _disc_cents() -> F.Column:
    """Discounted line revenue in exact cents (shared shape with
    ``starschema._disc_cents`` — duplicated, not imported, so the two
    modules stay independently readable)."""
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")


DUCK_DISC_CENTS = "round(l_extendedprice * (1 - l_discount) * 100)::BIGINT"

LATE_QUARTER = ("1997-01-01", "1997-04-01")
LATE_DAYS = 60

TRADE_NATION_A = "NATION_3"
TRADE_NATION_B = "NATION_7"
TRADE_RANGE = ("1996-01-01", "1998-01-01")

SHARE_REGION = "ASIA"
SHARE_NATION = "NATION_3"
SHARE_TYPE = "PROMO"
SHARE_RANGE = ("1995-01-01", "1997-01-01")

PROFIT_NAME_FRAGMENT = "widget"

RETURNED_QUARTER = ("1997-07-01", "1997-10-01")
RETURNED_TOP = 20

DIST_EXCLUDED_PRIORITY = "1-URGENT"

PROMO_MONTH = ("1997-09-01", "1997-10-01")

TOP_SUPPLIER_QUARTER = ("1997-01-01", "1997-04-01")

SMALL_QTY_BRAND = "Brand#11"

BIG_ORDER_MIN_QTY = 300

BRAND_BANDS = (
    ("Brand#11", 1, 11, 1, 15),
    ("Brand#13", 10, 20, 1, 25),
    ("Brand#16", 20, 30, 1, 35),
)


def star_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape (order-priority checking): orders placed in one quarter
    that had *any* lineitem shipped more than ``LATE_DAYS`` after the
    order date, counted per priority.

    Join shape: LEFT SEMI with a mixed equi + range condition — Spark
    plans the equi part as the join key (shuffle or broadcast, AQE's
    choice) and evaluates the range residually, so the lineitem side
    never fans out order rows (EXISTS semantics, exactly one output row
    per qualifying order).
    """
    lo, hi = LATE_QUARTER
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate
            > orders.o_orderdate + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def star_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape (volume shipping): discounted revenue between two
    nations (both directions), per shipping year.

    Join shape: the 6-way chain lineitem-supplier-nation /
    lineitem-orders-customer-nation.  Both nation sides are pre-filtered
    to the two names *before* joining, so the supplier/customer joins
    shrink to the qualifying rows and nation is broadcast.
    """
    lo, hi = TRADE_RANGE
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    supp = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    nations = (TRADE_NATION_A, TRADE_NATION_B)
    nation = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*nations)
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_disc_cents()).alias("revenue_cents"))
    )


def star_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape (national market share): within one region's market for
    one part type, the share of revenue supplied by one nation, per
    order year.

    The share divides two exact cent sums — both engines divide the
    same two longs, so the double is bit-identical.  Customer-side
    nation/region and supplier-side nation are broadcast dimensions.
    """
    lo, hi = SHARE_RANGE
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == SHARE_TYPE)
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(
        F.col("r_name") == SHARE_REGION
    )
    cn = nation.select("n_nationkey", "n_regionkey")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == cn.n_nationkey)
        .join(F.broadcast(region), cn.n_regionkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    nation_cents = F.sum(
        F.when(F.col("supp_nation") == SHARE_NATION, _disc_cents()).otherwise(
            F.lit(0).cast("long")
        )
    )
    total_cents = F.sum(_disc_cents())
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            nation_cents.alias("nation_cents"),
            total_cents.alias("total_cents"),
        )
        .select(
            "o_year",
            "nation_cents",
            "total_cents",
            (F.col("nation_cents") / F.col("total_cents")).alias("mkt_share"),
        )
    )


def star_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit): for parts whose name contains a
    fragment, profit per supplier nation per order year.  The fixture
    has no partsupp, so cost is proxied by ``p_retailprice * quantity``
    — the join/agg shape (4 facts + 1 broadcast dim) is what's under
    test, with the subtraction done in exact cents.
    """
    part = load(spark, sf_dir, "part").filter(
        F.col("p_name").contains(PROFIT_NAME_FRAGMENT)
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    cost_cents = F.round(
        F.col("p_retailprice") * F.col("l_quantity") * 100, 0
    ).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(_disc_cents() - cost_cents).alias("profit_cents"))
    )


def star_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape (returned-item reporting): top customers by revenue on
    returned lineitems for orders placed in one quarter.  Global top-k
    rides the rank's WindowGroupLimit (partial top-k per partition);
    ties broken by custkey.
    """
    lo, hi = RETURNED_QUARTER
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_disc_cents()).alias("revenue_cents"))
    )
    return top_k_per_key(
        rev.withColumn("g", F.lit(1)),
        ["g"],
        [F.desc("revenue_cents"), F.asc("c_custkey")],
        RETURNED_TOP,
    ).select("c_custkey", "c_name", "n_name", "revenue_cents")


def star_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape (customer distribution): LEFT OUTER join customers to
    their non-urgent orders, count per customer (zero for order-less
    customers), then histogram the counts.  Exercises the outer join +
    re-aggregation pipeline; the second aggregation is tiny (one row per
    distinct count).
    """
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != DIST_EXCLUDED_PRIORITY
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def star_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape (promotion effect): fraction of one month's revenue
    that came from promo-type parts.  Ratio of two exact cent sums —
    identical doubles on both engines.
    """
    lo, hi = PROMO_MONTH
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    part = load(spark, sf_dir, "part")
    promo_cents = F.sum(
        F.when(F.col("p_type") == SHARE_TYPE, _disc_cents()).otherwise(
            F.lit(0).cast("long")
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            promo_cents.alias("promo_cents"),
            F.sum(_disc_cents()).alias("total_cents"),
        )
        .select(
            "promo_cents",
            "total_cents",
            (F.col("promo_cents") / F.col("total_cents")).alias("promo_share"),
        )
    )


def star_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape (top supplier): supplier(s) whose quarterly revenue
    equals the maximum.  The scalar max is a one-row aggregate joined
    back by broadcast — the revenue relation is computed once, reused
    for both the max and the filter (self-contained subplan; at scale
    persist it or let AQE reuse the exchange).
    """
    lo, hi = TOP_SUPPLIER_QUARTER
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_disc_cents()).alias("total_revenue_cents")
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("max_revenue_cents"))
    supp = load(spark, sf_dir, "supplier")
    return (
        rev.join(
            F.broadcast(mx),
            rev.total_revenue_cents == mx.max_revenue_cents,
        )
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


def star_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape (small-quantity-order revenue): for one brand's parts,
    revenue from lineitems whose quantity is below 20% of that part's
    average quantity.

    The per-part average is aggregate-then-join (broadcast — one row
    per part of one brand), NOT a window over lineitem (which would
    sort every fact partition).  The threshold compare is the integer
    cross-multiplication ``5 * qty * cnt < sum`` — no double average
    ever materializes.
    """
    part = load(spark, sf_dir, "part").filter(
        F.col("p_brand") == SMALL_QTY_BRAND
    ).select("p_partkey")
    li = load(spark, sf_dir, "lineitem")
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_part = brand_li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum(cents("l_quantity")).alias("sum_qty_cents"),
        F.count("*").alias("n_li"),
    )
    qualifying = brand_li.join(
        F.broadcast(per_part), brand_li.l_partkey == per_part.pp_key
    ).filter(
        5 * cents("l_quantity") * F.col("n_li") < F.col("sum_qty_cents")
    )
    return qualifying.agg(
        F.sum(cents("l_extendedprice")).alias("revenue_cents"),
        F.count("*").alias("n_small"),
    )


def star_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape (large-volume customers): orders whose total quantity
    exceeds a threshold, joined back to order/customer detail.  The
    HAVING side is a slim (orderkey, sum) relation; the join back is on
    the order key the aggregate already shuffled on, so AQE can avoid a
    second full exchange of the big side.
    """
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("bo_key"))
        .agg(F.sum(cents("l_quantity")).alias("sum_qty_cents"))
        .filter(F.col("sum_qty_cents") > BIG_ORDER_MIN_QTY * 100)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.bo_key)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty_cents",
        )
    )


def star_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape (discounted revenue, disjunctive predicates): revenue
    from three (brand, quantity-band, size-band) combinations.  The
    OR-of-ANDs sits in the join condition; Catalyst derives the
    pushable per-side disjunctions (brand/size on part, quantity on
    lineitem) so both scans prune before the join.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cond = None
    for brand, qlo, qhi, slo, shi in BRAND_BANDS:
        c = (
            (F.col("p_brand") == brand)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi)
            & (F.col("p_size") >= slo)
            & (F.col("p_size") <= shi)
        )
        cond = c if cond is None else (cond | c)
    return (
        li.join(
            F.broadcast(part), (li.l_partkey == part.p_partkey) & cond
        )
        .agg(
            F.sum(_disc_cents()).alias("revenue_cents"),
            F.count("*").alias("n_li"),
        )
    )


def star_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (global-sales opportunity): customers with
    above-average positive balance and no urgent orders, summarized per
    nation.

    Join shapes: the scalar (sum, count) aggregate is broadcast and the
    above-average test is the integer cross-multiplication
    ``bal * cnt > sum`` (no double average); the "no urgent orders"
    test is a LEFT ANTI join on custkey; nation is broadcast.  Every
    distributed relation stays slim (custkey + cents).
    """
    cust = load(spark, sf_dir, "customer").withColumn(
        "bal_cents", cents("c_acctbal")
    )
    pos = cust.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("pos_sum_cents"),
        F.count("*").alias("pos_cnt"),
    )
    urgent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == DIST_EXCLUDED_PRIORITY
    ).select("o_custkey")
    nation = load(spark, sf_dir, "nation")
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        F.col("bal_cents") * F.col("pos_cnt") > F.col("pos_sum_cents")
    )
    idle = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti"
    )
    return (
        idle.join(F.broadcast(nation), idle.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal_cents").alias("total_bal_cents"),
        )
    )


N_QUARTILES = 4


def star_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer balance quartiles per market segment (ntile ranking —
    the one window rank family the engine had not yet exercised).  The
    tie order is total (balance cents, then custkey) so tile edges are
    deterministic in both engines; the window partitions on the segment
    key, so each partition sorts independently — no global sort."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", cents("c_acctbal").alias("bal_cents")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("bal_cents"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "bal_cents",
        F.ntile(N_QUARTILES).over(w).cast("long").alias("quartile"),
    )


QUERIES = {
    "star_late_order_priority": star_late_order_priority,
    "star_nation_trade": star_nation_trade,
    "star_market_share": star_market_share,
    "star_profit_by_nation": star_profit_by_nation,
    "star_returned_revenue": star_returned_revenue,
    "star_order_count_distribution": star_order_count_distribution,
    "star_promo_revenue": star_promo_revenue,
    "star_top_supplier": star_top_supplier,
    "star_small_qty_revenue": star_small_qty_revenue,
    "star_big_orders": star_big_orders,
    "star_brand_revenue": star_brand_revenue,
    "star_idle_customers": star_idle_customers,
    "star_balance_quartiles": star_balance_quartiles,
}


_BRAND_OR = " OR ".join(
    f"(p_brand = '{b}' AND l_quantity >= {qlo} AND l_quantity <= {qhi}"
    f" AND p_size >= {slo} AND p_size <= {shi})"
    for b, qlo, qhi, slo, shi in BRAND_BANDS
)

ORACLE = {
    "star_late_order_priority": f"""
        SELECT o_orderpriority, count(*)::BIGINT AS order_count
        FROM orders o
        WHERE o_orderdate >= '{LATE_QUARTER[0]}'
          AND o_orderdate < '{LATE_QUARTER[1]}'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY
          )
        GROUP BY 1
    """,
    "star_nation_trade": f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               year(l_shipdate)::BIGINT AS l_year,
               sum({DUCK_DISC_CENTS})::BIGINT AS revenue_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE l_shipdate >= '{TRADE_RANGE[0]}' AND l_shipdate < '{TRADE_RANGE[1]}'
          AND sn.n_name IN ('{TRADE_NATION_A}', '{TRADE_NATION_B}')
          AND cn.n_name IN ('{TRADE_NATION_A}', '{TRADE_NATION_B}')
          AND sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3
    """,
    "star_market_share": f"""
        SELECT year(o_orderdate)::BIGINT AS o_year,
               sum(CASE WHEN sn.n_name = '{SHARE_NATION}'
                        THEN {DUCK_DISC_CENTS} ELSE 0 END)::BIGINT AS nation_cents,
               sum({DUCK_DISC_CENTS})::BIGINT AS total_cents,
               (sum(CASE WHEN sn.n_name = '{SHARE_NATION}'
                         THEN {DUCK_DISC_CENTS} ELSE 0 END)::BIGINT)
               / (sum({DUCK_DISC_CENTS})::BIGINT)::DOUBLE AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE p_type = '{SHARE_TYPE}' AND r_name = '{SHARE_REGION}'
          AND o_orderdate >= '{SHARE_RANGE[0]}'
          AND o_orderdate < '{SHARE_RANGE[1]}'
        GROUP BY 1
    """,
    "star_profit_by_nation": f"""
        SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
               sum({DUCK_DISC_CENTS}
                   - round(p_retailprice * l_quantity * 100)::BIGINT)::BIGINT
                   AS profit_cents
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%{PROFIT_NAME_FRAGMENT}%'
        GROUP BY 1, 2
    """,
    "star_returned_revenue": f"""
        WITH rev AS (
            SELECT c_custkey, c_name, n_name,
                   sum({DUCK_DISC_CENTS})::BIGINT AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= '{RETURNED_QUARTER[0]}'
              AND o_orderdate < '{RETURNED_QUARTER[1]}'
            GROUP BY 1, 2, 3
        )
        SELECT c_custkey, c_name, n_name, revenue_cents
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY revenue_cents DESC, c_custkey ASC) AS rk
            FROM rev
        ) WHERE rk <= {RETURNED_TOP}
    """,
    "star_order_count_distribution": f"""
        WITH per_cust AS (
            SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON c_custkey = o_custkey
             AND o_orderpriority <> '{DIST_EXCLUDED_PRIORITY}'
            GROUP BY 1
        )
        SELECT c_count, count(*)::BIGINT AS custdist
        FROM per_cust GROUP BY 1
    """,
    "star_promo_revenue": f"""
        SELECT sum(CASE WHEN p_type = '{SHARE_TYPE}'
                        THEN {DUCK_DISC_CENTS} ELSE 0 END)::BIGINT AS promo_cents,
               sum({DUCK_DISC_CENTS})::BIGINT AS total_cents,
               (sum(CASE WHEN p_type = '{SHARE_TYPE}'
                         THEN {DUCK_DISC_CENTS} ELSE 0 END)::BIGINT)
               / (sum({DUCK_DISC_CENTS})::BIGINT)::DOUBLE AS promo_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= '{PROMO_MONTH[0]}' AND l_shipdate < '{PROMO_MONTH[1]}'
    """,
    "star_top_supplier": f"""
        WITH rev AS (
            SELECT l_suppkey,
                   sum({DUCK_DISC_CENTS})::BIGINT AS total_revenue_cents
            FROM lineitem
            WHERE l_shipdate >= '{TOP_SUPPLIER_QUARTER[0]}'
              AND l_shipdate < '{TOP_SUPPLIER_QUARTER[1]}'
            GROUP BY 1
        )
        SELECT s_suppkey, s_name, total_revenue_cents
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM rev)
    """,
    "star_small_qty_revenue": f"""
        WITH brand_li AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand = '{SMALL_QTY_BRAND}'
        ),
        per_part AS (
            SELECT l_partkey AS pp_key,
                   sum(round(l_quantity * 100)::BIGINT)::BIGINT AS sum_qty_cents,
                   count(*)::BIGINT AS n_li
            FROM brand_li GROUP BY 1
        )
        SELECT sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS revenue_cents,
               count(*)::BIGINT AS n_small
        FROM brand_li
        JOIN per_part ON l_partkey = pp_key
        WHERE 5 * round(l_quantity * 100)::BIGINT * n_li < sum_qty_cents
    """,
    "star_big_orders": f"""
        WITH big AS (
            SELECT l_orderkey AS bo_key,
                   sum(round(l_quantity * 100)::BIGINT)::BIGINT AS sum_qty_cents
            FROM lineitem GROUP BY 1
            HAVING sum(round(l_quantity * 100)::BIGINT) > {BIG_ORDER_MIN_QTY * 100}
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
               sum_qty_cents
        FROM orders
        JOIN big ON o_orderkey = bo_key
        JOIN customer ON o_custkey = c_custkey
    """,
    "star_brand_revenue": f"""
        SELECT sum({DUCK_DISC_CENTS})::BIGINT AS revenue_cents,
               count(*)::BIGINT AS n_li
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE {_BRAND_OR}
    """,
    "star_balance_quartiles": f"""
        SELECT c_custkey, c_mktsegment,
               round(c_acctbal * 100)::BIGINT AS bal_cents,
               ntile({N_QUARTILES}) OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY round(c_acctbal * 100)::BIGINT ASC, c_custkey ASC
               )::BIGINT AS quartile
        FROM customer
    """,
    "star_idle_customers": f"""
        WITH bal AS (
            SELECT *, round(c_acctbal * 100)::BIGINT AS bal_cents
            FROM customer
        ),
        pos AS (
            SELECT sum(bal_cents)::BIGINT AS pos_sum_cents,
                   count(*)::BIGINT AS pos_cnt
            FROM bal WHERE bal_cents > 0
        )
        SELECT n_name, count(*)::BIGINT AS numcust,
               sum(bal_cents)::BIGINT AS total_bal_cents
        FROM bal
        CROSS JOIN pos
        JOIN nation ON c_nationkey = n_nationkey
        WHERE bal_cents * pos_cnt > pos_sum_cents
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderpriority = '{DIST_EXCLUDED_PRIORITY}'
          )
        GROUP BY 1
    """,
}


EXCLUDED_BRAND = "Brand#9"


def star_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (parts/supplier relationship, restated without
    partsupp): distinct suppliers that shipped each (brand, type, size)
    family, excluding one brand — the count-distinct-per-group shape.
    Spark expands distinct aggregation into a two-level aggregate
    (group by keys+suppkey, then count) — both levels HashAggregate,
    both partial-combined."""
    part = load(spark, sf_dir, "part").filter(
        F.col("p_brand") != EXCLUDED_BRAND
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


QUERIES["star_part_supplier_counts"] = star_part_supplier_counts

ORACLE["star_part_supplier_counts"] = f"""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> '{EXCLUDED_BRAND}'
    GROUP BY 1, 2, 3
"""


SHIPMODE_YEAR = ("1997-01-01", "1998-01-01")
HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")


def star_linestatus_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (shipping-mode priority, restated on ``l_linestatus`` —
    the fixture lineitem has no shipmode/receiptdate columns): for lines
    shipped within one year, per line status, how many came from
    high-priority orders vs the rest — the conditional two-way count
    aggregation over an orders⋈lineitem join (``TPC-H Q12``).

    Scale posture: the year filter pushes to the lineitem scan and the
    fact⋈fact join shuffles only (orderkey, linestatus) against
    (orderkey, priority) — both sides pruned to two columns.  The
    CASE-counts are a single HashAggregate pass; no second join or
    pivot.  This join is also the engine's runtime-bloom-filter
    demonstrator: with ``spark.sql.optimizer.runtime.bloomFilter.enabled``
    (on by default in ``session.get_spark``) a selective creation side
    semi-reduces the fact scan before the shuffle
    (``tests/test_plans.py::test_runtime_bloom_filter_prunes_fact_join``).
    """
    lo, hi = SHIPMODE_YEAR
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    ).select("l_orderkey", "l_linestatus")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin(*HIGH_PRIORITIES)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


QUERIES["star_linestatus_priority"] = star_linestatus_priority

_HIGH_IN = ", ".join(f"'{p}'" for p in HIGH_PRIORITIES)

ORACLE["star_linestatus_priority"] = f"""
    SELECT l_linestatus,
           count(CASE WHEN o_orderpriority IN ({_HIGH_IN}) THEN 1 END)::BIGINT
               AS high_line_count,
           count(CASE WHEN o_orderpriority NOT IN ({_HIGH_IN}) THEN 1 END)::BIGINT
               AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= '{SHIPMODE_YEAR[0]}'
      AND l_shipdate < '{SHIPMODE_YEAR[1]}'
    GROUP BY 1
"""


WAIT_DAYS = 60
WAIT_STATUS = "F"


def star_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (suppliers who kept orders waiting): for finished
    orders served by more than one supplier, the suppliers that were the
    *only* one to ship late — per supplier, the count of such orders.

    TPC-H writes this as a correlated EXISTS + NOT EXISTS double
    self-join of lineitem (the DuckDB oracle keeps that literal form);
    two extra shuffles of the fact table at 100 TB.  The engine restates
    it as one per-order aggregate — ``countDistinct(supplier)`` and
    ``countDistinct(supplier) FILTER (late)`` in a single HashAggregate
    pass — then joins the distinct late (order, supplier) pairs back on
    orderkey.  lineitem is shuffled once on orderkey; AQE reuses the
    exchange for both consumers where sizes allow; supplier names ride a
    broadcast.
    """
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == WAIT_STATUS
    ).select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {WAIT_DAYS} DAYS")
        ).alias("late"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    sole_late = (
        lines.filter(F.col("late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.filter(
                (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
            ),
            "l_orderkey",
        )
    )
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(
            F.broadcast(supplier), sole_late.l_suppkey == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


QUERIES["star_sole_late_supplier"] = star_sole_late_supplier

# The literal TPC-H correlated form — a genuinely different algorithm
# from the engine's aggregate rewrite.  count(DISTINCT l_orderkey): the
# engine counts each (order, supplier) once even when the supplier
# shipped several late lines in the same order.
ORACLE["star_sole_late_supplier"] = f"""
    SELECT s_name, count(DISTINCT l1.l_orderkey)::BIGINT AS numwait
    FROM lineitem l1
    JOIN orders ON l1.l_orderkey = o_orderkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE o_orderstatus = '{WAIT_STATUS}'
      AND l1.l_shipdate > o_orderdate + INTERVAL {WAIT_DAYS} DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL {WAIT_DAYS} DAY
      )
    GROUP BY 1
"""


BASKET_TOP_N = 50


def star_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: the top co-purchased part pairs by order
    co-occurrence count — the association-rule candidate generation
    step (frequent pairs) restated on the fixture schema.

    Scale: the self-join keys both sides on l_orderkey, so the shuffle
    co-partitions and each order's pair expansion happens locally,
    bounded by its basket size squared (TPC-H baskets are <= 7 lines);
    distinct parts per order first so multi-line items don't inflate
    counts.  The global top-N is a TakeOrderedAndProject — only N rows
    per partition reach the driver-side merge, never the pair space.
    Ties are totally ordered by (count desc, part1, part2).  Round 11:
    the pair counts come from the shared weighted pair memo."""
    pairs = _copurchase_weighted(spark, sf_dir).select(
        F.col("p1").alias("part1"),
        F.col("p2").alias("part2"),
        F.col("w").alias("n_orders"),
    )
    return pairs.orderBy(
        F.desc("n_orders"), F.asc("part1"), F.asc("part2")
    ).limit(BASKET_TOP_N)


QUERIES["star_copurchase_pairs"] = star_copurchase_pairs

ORACLE["star_copurchase_pairs"] = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part1, b.l_partkey AS part2,
               count(*)::BIGINT AS n_orders
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT part1, part2, n_orders
    FROM pairs
    ORDER BY n_orders DESC, part1, part2
    LIMIT {BASKET_TOP_N}
"""


RFM_TILES = 4


def star_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile each customer on Recency
    (latest order date), Frequency (order count) and Monetary (exact
    cents spend), and emit the composite segment code — the standard
    marketing-analytics cut, and the multi-window shape (three ntile
    rankings over one aggregated relation) the suite lacked.

    Scale: orders pre-aggregate to one row per customer FIRST (one
    keyed shuffle with map-side combine); the three global ntile
    windows then rank the per-customer relation, which is O(customers),
    not O(orders).  A truly global rank cannot avoid a single-partition
    sort in any engine — the discipline is ranking the aggregate, never
    the fact table.  All three tie orders are total (metric, custkey),
    so tile edges are deterministic cross-engine."""
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("spend_cents"),
    )
    w_r = Window.orderBy(F.desc("last_order"), F.asc("c_custkey"))
    w_f = Window.orderBy(F.desc("n_orders"), F.asc("c_custkey"))
    w_m = Window.orderBy(F.desc("spend_cents"), F.asc("c_custkey"))
    tiles = per_cust.select(
        "c_custkey",
        "n_orders",
        "spend_cents",
        F.ntile(RFM_TILES).over(w_r).cast("long").alias("r_tile"),
        F.ntile(RFM_TILES).over(w_f).cast("long").alias("f_tile"),
        F.ntile(RFM_TILES).over(w_m).cast("long").alias("m_tile"),
    )
    return tiles.withColumn(
        "segment",
        F.concat_ws(
            "", F.col("r_tile"), F.col("f_tile"), F.col("m_tile")
        ),
    )


QUERIES["star_customer_rfm"] = star_customer_rfm

ORACLE["star_customer_rfm"] = f"""
    WITH per_cust AS (
        SELECT o_custkey AS c_custkey,
               max(o_orderdate) AS last_order,
               count(*)::BIGINT AS n_orders,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS spend_cents
        FROM orders GROUP BY 1
    ),
    tiles AS (
        SELECT c_custkey, n_orders, spend_cents,
               ntile({RFM_TILES}) OVER (
                   ORDER BY last_order DESC, c_custkey)::BIGINT AS r_tile,
               ntile({RFM_TILES}) OVER (
                   ORDER BY n_orders DESC, c_custkey)::BIGINT AS f_tile,
               ntile({RFM_TILES}) OVER (
                   ORDER BY spend_cents DESC, c_custkey)::BIGINT AS m_tile
        FROM per_cust
    )
    SELECT c_custkey, n_orders, spend_cents, r_tile, f_tile, m_tile,
           r_tile::VARCHAR || f_tile::VARCHAR || m_tile::VARCHAR AS segment
    FROM tiles
"""


PR_ITERS = 3
PR_SCALE = 10**9


def star_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the co-purchase graph (parts are nodes,
    orders containing both parts are edges) — "which parts anchor the
    catalog" — the iterative graph-analytics shape beyond connected
    components, in exact integer fixed point end to end
    (``operators/graph.py::pagerank_int``), so even after
    ``PR_ITERS`` iterations the ranks hash-match the oracle's unrolled
    CTE chain exactly.

    Scale: the edge list is the co-purchase pair relation (bounded by
    Σ basket² per order, built co-partitioned on the order key); each
    iteration is one ranks-onto-edges join plus one partial-combined
    sum, both keyed on part ids.  Rank mass is per-node normalized
    (classic PR × N) — the ordering, which is what centrality is for,
    is unaffected."""
    from ..operators.graph import pagerank_int

    pairs = _pagerank_pairs(spark, sf_dir)
    ranks = pagerank_int(pairs, PR_ITERS, PR_SCALE, prepartitioned=True)
    return ranks.select(F.col("node").alias("part"), "rank")


def _pagerank_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-thresholded directed co-purchase pair list PageRank ranks
    over, hash-partitioned by src, a session memo: the symmetrized pair
    layout feeds every one of the rank loop's rounds, and repeated rank
    computations pay it once."""

    from ..operators.graph import edge_layout

    def build() -> DataFrame:
        # symmetrize the shared weighted pair memo — canonical pairs
        # are unique, so the union IS the distinct != pair set
        und = _copurchase_weighted(spark, sf_dir).select("p1", "p2")
        sym = und.select(
            F.col("p1").alias("src"), F.col("p2").alias("dst")
        ).unionByName(
            und.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
        )
        # layout width from the measured edge count: the rank loop's
        # 18 rounds each run stages over this relation, so a small
        # graph must not pay a wide layout per round
        return edge_layout(sym, "src")[0]

    return memo("lpa_edges/prpairs", spark, sf_dir, build)


QUERIES["star_part_pagerank"] = star_part_pagerank


def _oracle_pagerank() -> str:
    base = (PR_SCALE * 15) // 100
    parts = [
        """e AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
            JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        )""",
        "deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1)",
        f"r0 AS (SELECT src AS node, {PR_SCALE}::BIGINT AS rank FROM deg)",
    ]
    for t in range(PR_ITERS):
        parts.append(f"""r{t + 1} AS (
            SELECT n.node,
                   ({base} + (85 * coalesce(s.s, 0)) // 100)::BIGINT AS rank
            FROM (SELECT node FROM r0) n
            LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank // d.deg)::BIGINT AS s
                FROM e
                JOIN r{t} r ON e.src = r.node
                JOIN deg d ON e.src = d.src
                GROUP BY 1
            ) s USING (node)
        )""")
    return (
        "WITH " + ",\n".join(parts)
        + f" SELECT node AS part, rank FROM r{PR_ITERS}"
    )


ORACLE["star_part_pagerank"] = _oracle_pagerank()


def star_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth in exact basis points — the
    seasonality/trend cut every revenue dashboard opens with.

    Scale discipline: lag() runs over the O(months) aggregate (one
    keyed shuffle with map-side combine collapses orders to ~tens of
    rows), never the fact table; growth is integer arithmetic —
    (cur - prev) * 10000 DIV prev — so there is no float drift between
    engines and a month landing exactly on a boundary cannot flip.
    NB: negative growth exercises integer-division sign handling; both
    Spark's DIV and DuckDB's // truncate toward zero (checked — the
    fixture has ~41 negative months at sf0.01 and they hash-match)."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "month",
        "rev_cents",
        F.when(
            prev.isNotNull(),
            F.expr(
                "(rev_cents - lag(rev_cents) OVER (ORDER BY month))"
                " * 10000 DIV lag(rev_cents) OVER (ORDER BY month)"
            ),
        ).cast("long").alias("growth_bp"),
    )


QUERIES["star_monthly_growth"] = star_monthly_growth

ORACLE["star_monthly_growth"] = """
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_cents
        FROM orders GROUP BY 1
    )
    SELECT month, rev_cents,
           CASE WHEN lag(rev_cents) OVER (ORDER BY month) IS NOT NULL
                THEN ((rev_cents - lag(rev_cents) OVER (ORDER BY month))
                      * 10000) // lag(rev_cents) OVER (ORDER BY month)
           END::BIGINT AS growth_bp
    FROM monthly
"""

def star_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative revenue per market segment by month — the
    year-to-date / lifetime-to-date window shape every finance dashboard
    layers on the monthly cut.

    Scale discipline: the fact table collapses to O(segments x months)
    rows FIRST (orders shuffle once on custkey to pick up the segment,
    then one keyed aggregate with map-side combine); the running-sum
    window runs over that tiny relation partitioned by segment, so the
    window input is bounded regardless of corpus size.  Money maths in
    exact integer cents end-to-end."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
    )
    w = (
        Window.partitionBy("segment")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return monthly.select(
        "segment",
        "month",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("cum_rev_cents"),
    )


QUERIES["star_cumulative_revenue"] = star_cumulative_revenue

ORACLE["star_cumulative_revenue"] = """
    WITH monthly AS (
        SELECT c_mktsegment AS segment,
               date_trunc('month', o_orderdate)::TIMESTAMP AS month,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    )
    SELECT segment, month, rev_cents,
           sum(rev_cents) OVER (
               PARTITION BY segment ORDER BY month
               ROWS UNBOUNDED PRECEDING
           )::BIGINT AS cum_rev_cents
    FROM monthly
"""

TRIANGLE_MIN_SUPPORT = 2


def star_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the co-purchase graph (edges = part
    pairs co-bought in >= ``TRIANGLE_MIN_SUPPORT`` orders): edge, wedge
    and triangle counts plus the global clustering coefficient in exact
    basis points — the graph-cohesion report beside PageRank and
    connected components.

    Scale shape (the MPS/Cohen degree-ordering algorithm): every edge is
    oriented from its lower-(degree, id) endpoint, so each wedge is
    generated exactly once at its pivot and the per-node out-degree is
    bounded by O(sqrt(m)) — the wedge join is sum of out-degree^2, not
    sum of degree^2, which is what makes hub nodes survivable.  Closure
    is one more equi-join against the canonical edge list; every count
    is a single-row integer aggregate (closure = 3T/W in basis points,
    exact integer division).  Round 11: the thresholded canonical edge
    list is a filter over the shared weighted pair memo — the basket
    self-join that fed four subtrees here (edges, degrees, the wedge
    join, the closure join) is now one persisted read.  The filtered
    edge list is cut with an eager localCheckpoint: it feeds four
    subtrees, and the checkpoint hands the planner the relation's REAL
    (post-filter) size — serving it straight off the cached memo left
    the wedge/closure joins planned from the unfiltered relation's
    statistics, measured 2.3x slower."""
    edges = (
        _copurchase_weighted(spark, sf_dir)
        .filter(F.col("w") >= TRIANGLE_MIN_SUPPORT)
        .select(F.col("p1").alias("u"), F.col("p2").alias("v"))
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    e_deg = (
        edges.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("d", "du")
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"),
            "v",
        )
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = (
        w1.join(w2, "src")
        .filter(F.col("w1.dst") < F.col("w2.dst"))
        .select(
            F.col("w1.dst").alias("x"), F.col("w2.dst").alias("y")
        )
    )
    closed = wedges.join(
        edges,
        (F.least("x", "y") == F.col("u")) & (F.greatest("x", "y") == F.col("v")),
        "inner",
    )
    tri = closed.agg(F.count("*").alias("n_triangles"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    return (
        n_edges.crossJoin(n_wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr("(3 * n_triangles * 10000) div n_wedges").alias(
                "closure_bp"
            ),
        )
    )


QUERIES["star_copurchase_triangles"] = star_copurchase_triangles

ORACLE["star_copurchase_triangles"] = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    E AS (SELECT u, v FROM pairs WHERE n >= {TRIANGLE_MIN_SUPPORT}),
    deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT u AS node FROM E UNION ALL SELECT v FROM E
        ) GROUP BY 1
    ),
    tri AS (
        SELECT count(*)::BIGINT AS n_triangles
        FROM E ab JOIN E bc ON ab.v = bc.u
        JOIN E ac ON ac.u = ab.u AND ac.v = bc.v
    )
    SELECT (SELECT count(*)::BIGINT FROM E) AS n_edges,
           (SELECT sum(d * (d - 1) // 2)::BIGINT FROM deg) AS n_wedges,
           n_triangles,
           ((3 * n_triangles * 10000)
            // (SELECT sum(d * (d - 1) // 2) FROM deg))::BIGINT AS closure_bp
    FROM tri
"""

LATENCY_PCTS = (0.5, 0.9, 0.99)


def star_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency p50/p90/p99 in days, per order priority —
    the fulfillment-SLA cut of the star schema.

    Exactness: latency is an integer day count (datediff), so both
    engines interpolate exact percentiles between the same two
    integers (the events_value_percentiles discipline).  Scale: the
    orders→lineitem join shuffles on orderkey; the percentile groups
    are value-bounded (5 priorities), so the sort-based exact
    percentile stays cheap — switch to approx_percentile for
    high-cardinality keys."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("lat_days"),
    )
    aggs = [
        F.expr(f"percentile(lat_days, {p})").alias(f"p{int(round(p * 100))}")
        for p in LATENCY_PCTS
    ]
    return lat.groupBy("o_orderpriority").agg(*aggs)


QUERIES["star_ship_latency_percentiles"] = star_ship_latency_percentiles

ORACLE["star_ship_latency_percentiles"] = f"""
    WITH lat AS (
        SELECT o_orderpriority,
               datediff('day', o_orderdate, l_shipdate)::BIGINT AS lat_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT o_orderpriority,
           {", ".join(f"quantile_cont(lat_days, {p}) AS p{int(round(p * 100))}"
                      for p in LATENCY_PCTS)}
    FROM lat GROUP BY o_orderpriority
"""

SETOPS_YEAR_A = 1996
SETOPS_YEAR_B = 1997


def star_customer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-base movement between two years: customers ordering in
    A only, B only, both, and either — the churn/retention/acquisition
    split every yearly business review opens with.

    SINGLE-PASS plan (round-11 verdict item 1; the round-10 form
    computed the same four counts via four independent set-op legs —
    a.subtract(b) / b.subtract(a) / a.intersect(b) / a.union(b) — each
    re-scanning and re-shuffling orders, ~8 fact-table scans for a
    one-row answer; that literal set-operator formulation survives as
    ``star_customer_setops_literal`` for INTERSECT/EXCEPT plan
    coverage).  Here the fact table is read ONCE: filter to the two
    years, one groupBy(o_custkey) computing per-customer membership
    flags (max-of-indicator — partial aggregation makes the shuffle
    carry at most one row per (partition, custkey)), then a single
    global aggregate of four conditional counts.  At 100 TB this is
    one pruned scan + one O(customers) shuffle, and the year filter
    reaches the parquet scan (cookbook/CombinePerKeyExamples.scala:
    124-126 makes the same compute-once point in miniature)."""
    yr = F.year("o_orderdate")
    flags = (
        load(spark, sf_dir, "orders")
        .filter(yr.isin(SETOPS_YEAR_A, SETOPS_YEAR_B))
        .groupBy("o_custkey")
        .agg(
            F.max((yr == SETOPS_YEAR_A).cast("int")).alias("in_a"),
            F.max((yr == SETOPS_YEAR_B).cast("int")).alias("in_b"),
        )
    )
    return flags.agg(
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("long"))
        .alias("only_a"),
        F.sum(((F.col("in_a") == 0) & (F.col("in_b") == 1)).cast("long"))
        .alias("only_b"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long"))
        .alias("both_years"),
        F.count("*").alias("either_year"),
    )


def star_customer_setops_literal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The literal SQL set-operator formulation of
    ``star_customer_setops`` — kept as a second oracle-checked variant
    because it is the engine's INTERSECT/EXCEPT plan coverage (Catalyst
    plans them as distinct + left-semi/left-anti joins on the shuffled
    key).  NOT the serving plan: the four independent legs re-derive
    each year's distinct-custkey relation, so this form costs ~8 orders
    scans where the primary needs one."""
    orders = load(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select("o_custkey")
            .distinct()
        )

    a, b = year_keys(SETOPS_YEAR_A), year_keys(SETOPS_YEAR_B)
    return (
        a.subtract(b).agg(F.count("*").alias("only_a"))
        .crossJoin(b.subtract(a).agg(F.count("*").alias("only_b")))
        .crossJoin(a.intersect(b).agg(F.count("*").alias("both_years")))
        .crossJoin(a.union(b).distinct().agg(F.count("*").alias("either_year")))
    )


QUERIES["star_customer_setops"] = star_customer_setops
QUERIES["star_customer_setops_literal"] = star_customer_setops_literal

ORACLE["star_customer_setops"] = f"""
    WITH a AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE year(o_orderdate) = {SETOPS_YEAR_A}
    ),
    b AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE year(o_orderdate) = {SETOPS_YEAR_B}
    )
    SELECT
        (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
            ::BIGINT AS only_a,
        (SELECT count(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a))
            ::BIGINT AS only_b,
        (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
            ::BIGINT AS both_years,
        (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
            ::BIGINT AS either_year
"""

# The literal set-operator variant answers the identical question, so it
# shares the oracle verbatim.
ORACLE["star_customer_setops_literal"] = ORACLE["star_customer_setops"]


def star_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift for the top co-purchased pairs:
    lift = P(a,b) / (P(a)·P(b)) in integer micro units — the statistic
    that separates genuinely-associated parts from merely-popular ones
    (the market-basket twin of the bigram PMI).

    Shape: per-part order counts join only the top-K pair rows (K
    bounded, broadcast); N is a 1-row scalar; the micro rounding
    happens once per pair — integers end to end afterwards."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders_total")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count("*").alias("part_orders")
    )
    top_pairs = star_copurchase_pairs(spark, sf_dir)
    p1 = per_part.select(
        F.col("part").alias("part1"), F.col("part_orders").alias("n1")
    )
    p2 = per_part.select(
        F.col("part").alias("part2"), F.col("part_orders").alias("n2")
    )
    return (
        top_pairs.join(p1, "part1")
        .join(p2, "part2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part1",
            "part2",
            "n_orders",
            F.round(
                (F.col("n_orders") * F.col("n_orders_total") * 1e6)
                / (F.col("n1") * F.col("n2"))
            )
            .cast("long")
            .alias("lift_micro"),
        )
    )


QUERIES["star_basket_lift"] = star_basket_lift

ORACLE["star_basket_lift"] = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nt AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders_total FROM li),
    per_part AS (
        SELECT l_partkey AS part, count(*)::BIGINT AS part_orders
        FROM li GROUP BY 1
    ),
    pairs AS (
        SELECT a.l_partkey AS part1, b.l_partkey AS part2,
               count(*)::BIGINT AS n_orders
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    top AS (
        SELECT part1, part2, n_orders FROM pairs
        ORDER BY n_orders DESC, part1, part2 LIMIT {BASKET_TOP_N}
    )
    SELECT part1, part2, top.n_orders,
           round((top.n_orders * nt.n_orders_total * 1e6)
                 / (p1.part_orders * p2.part_orders))::BIGINT AS lift_micro
    FROM top
    JOIN per_part p1 ON top.part1 = p1.part
    JOIN per_part p2 ON top.part2 = p2.part
    CROSS JOIN nt
"""


def star_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per nation: the Herfindahl-Hirschman index
    of supplier revenue shares (sum of squared basis-point shares; 10^8
    = monopoly) — the procurement-risk metric beside the corpus Gini.

    Exactness: shares are integer basis points (exact cents revenue),
    HHI is a sum of their squares — integers end to end.  Scale: the
    lineitem-supplier join shuffles on suppkey; everything after is
    O(suppliers)."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum(_disc_cents()).alias("rev_cents"))
    )
    shares = rev.withColumn(
        "share_bp", F.expr("(rev_cents * 10000) div sum(rev_cents) over (partition by s_nationkey)")
    )
    return (
        shares.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(F.col("share_bp") * F.col("share_bp")).alias("hhi"),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "n_suppliers", "hhi")
    )


QUERIES["star_supplier_hhi"] = star_supplier_hhi

ORACLE["star_supplier_hhi"] = f"""
    WITH rev AS (
        SELECT s_nationkey, s_suppkey,
               sum({DUCK_DISC_CENTS})::BIGINT AS rev_cents
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
    ),
    shares AS (
        SELECT s_nationkey,
               ((rev_cents * 10000)
                // sum(rev_cents) OVER (PARTITION BY s_nationkey))::BIGINT
                   AS share_bp
        FROM rev
    )
    SELECT n_name AS nation,
           count(*)::BIGINT AS n_suppliers,
           sum(share_bp * share_bp)::BIGINT AS hhi
    FROM shares JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1
"""


PARETO_BUCKETS = 10


def star_clv_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) curve: customers ranked into
    revenue deciles, each decile's revenue share and the cumulative
    share from the top, in exact basis points — "do 20% of customers
    carry 80% of revenue" as data.

    Shape: the orders fact collapses to per-customer cents first; the
    ntile ranks the O(customers) aggregate (one shuffle); the decile
    report and its cumulative window are O(10) rows.  Integer
    arithmetic end to end."""
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("rev_cents")
    )
    tiled = per_cust.withColumn(
        "decile",
        F.ntile(PARETO_BUCKETS).over(
            Window.orderBy(F.desc("rev_cents"), F.asc("o_custkey"))
        ),
    )
    deciles = tiled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("rev_cents").alias("rev_cents"),
    )
    return deciles.select(
        "decile",
        "n_customers",
        "rev_cents",
        F.expr("(rev_cents * 10000) div sum(rev_cents) over ()").alias(
            "share_bp"
        ),
        F.expr(
            "(sum(rev_cents) over (order by decile rows between"
            " unbounded preceding and current row) * 10000)"
            " div sum(rev_cents) over ()"
        ).alias("cum_share_bp"),
    )


QUERIES["star_clv_pareto"] = star_clv_pareto

ORACLE["star_clv_pareto"] = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_cents
        FROM orders GROUP BY 1
    ),
    tiled AS (
        SELECT rev_cents,
               ntile({PARETO_BUCKETS}) OVER (
                   ORDER BY rev_cents DESC, o_custkey ASC
               ) AS decile
        FROM per_cust
    ),
    deciles AS (
        SELECT decile, count(*)::BIGINT AS n_customers,
               sum(rev_cents)::BIGINT AS rev_cents
        FROM tiled GROUP BY 1
    )
    SELECT decile, n_customers, rev_cents,
           ((rev_cents * 10000) // sum(rev_cents) OVER ())::BIGINT
               AS share_bp,
           ((sum(rev_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             * 10000) // sum(rev_cents) OVER ())::BIGINT AS cum_share_bp
    FROM deciles
"""


def star_basket_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: orders per distinct-part count — the
    measured evidence behind every co-purchase scale claim (the pair
    join is Σ basket², so this histogram IS its cost model).  Two
    hash aggregates; the profile is O(max basket size) rows with the
    share in exact basis points."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sizes = li.groupBy("l_orderkey").agg(F.count("*").alias("basket_size"))
    return (
        sizes.groupBy("basket_size")
        .agg(F.count("*").alias("n_orders"))
        .withColumn(
            "share_bp", F.expr("(n_orders * 10000) div sum(n_orders) over ()")
        )
        .withColumn(
            "pair_work", F.expr("n_orders * basket_size * (basket_size - 1) div 2")
        )
    )


QUERIES["star_basket_size_profile"] = star_basket_size_profile

ORACLE["star_basket_size_profile"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sizes AS (
        SELECT l_orderkey, count(*)::BIGINT AS basket_size
        FROM li GROUP BY 1
    ),
    hist AS (
        SELECT basket_size, count(*)::BIGINT AS n_orders
        FROM sizes GROUP BY 1
    )
    SELECT basket_size, n_orders,
           ((n_orders * 10000) // sum(n_orders) OVER ())::BIGINT AS share_bp,
           (n_orders * basket_size * (basket_size - 1) // 2)::BIGINT
               AS pair_work
    FROM hist
"""


# --------------------------------------------------------------------------
# Pareto frontier (2-D skyline) — banded two-level evaluation
# --------------------------------------------------------------------------

# Revenue band width for the first skyline level.  Band count grows with
# corpus size (revenue range / width), keeping every level-1 window
# partition bounded; the global level only sees per-band survivors.
PARETO_BAND_CENTS = 1_000_000_000


def _skyline_keep(df: DataFrame, banded: bool) -> DataFrame:
    """Strict-dominance skyline filter over (revenue_cents max,
    worst_lag_days min).  A point is dominated iff another point has
    revenue >= AND lag <= with at least one strict.  Two windows decide
    it without any self-join:

    - ``rm``: min lag among points with *strictly larger* revenue
      (DESC range frame ending 1 PRECEDING) — catches dominators strict
      in revenue;
    - ``same_min``: min lag among equal-revenue points — catches
      dominators strict in lag only.

    Keep iff ``(rm IS NULL OR rm > lag) AND lag = same_min``.  Equal
    (revenue, lag) duplicates are mutually non-dominating and both kept.
    """
    part = "PARTITION BY band " if banded else ""
    same_part = "band, revenue_cents" if banded else "revenue_cents"
    rm = F.expr(
        f"min(worst_lag_days) OVER ({part}ORDER BY revenue_cents DESC "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    same = F.expr(f"min(worst_lag_days) OVER (PARTITION BY {same_part})")
    return (
        df.withColumn("_rm", rm)
        .withColumn("_same", same)
        .filter(
            (F.col("_rm").isNull() | (F.col("_rm") > F.col("worst_lag_days")))
            & (F.col("worst_lag_days") == F.col("_same"))
        )
        .drop("_rm", "_same")
    )


def star_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier Pareto frontier: the set of suppliers not dominated on
    (total discounted revenue — higher better, worst ship lag in days —
    lower better).  The multi-objective vendor-selection shape (skyline
    operator; no Beam/TPC-H counterpart, standard in SQL:2023 proposals).

    Scale: one suppkey-partitioned aggregate reduces the fact table to
    O(suppliers); the skyline then runs in two levels — level 1 inside
    fixed-width revenue bands (window partitioned by band: any one sort
    is bounded by a band's population), level 2 globally over the
    per-band survivors only.  Frontier-of-union equals
    frontier-of-band-frontiers because dominance is transitive and any
    dominator chain terminates at a band-skyline point; the DuckDB
    oracle computes the single-level global skyline directly, so parity
    proves the two-level reduction exact."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    perf = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.sum(_disc_cents()).alias("revenue_cents"),
            F.max(F.datediff("l_shipdate", "o_orderdate"))
            .cast("long")
            .alias("worst_lag_days"),
        )
    )
    banded = perf.withColumn(
        "band", F.expr(f"revenue_cents div {PARETO_BAND_CENTS}")
    )
    survivors = _skyline_keep(banded, banded=True).drop("band")
    return _skyline_keep(survivors, banded=False).select(
        "s_suppkey", "revenue_cents", "worst_lag_days"
    )


QUERIES["star_pareto_frontier"] = star_pareto_frontier

ORACLE["star_pareto_frontier"] = f"""
    WITH perf AS (
        SELECT l_suppkey AS s_suppkey,
               sum({DUCK_DISC_CENTS})::BIGINT AS revenue_cents,
               max(date_diff('day', o_orderdate, l_shipdate))::BIGINT
                   AS worst_lag_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    ),
    sky AS (
        SELECT s_suppkey, revenue_cents, worst_lag_days,
               min(worst_lag_days) OVER (
                   ORDER BY revenue_cents DESC
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm,
               min(worst_lag_days) OVER (PARTITION BY revenue_cents)
                   AS same_min
        FROM perf
    )
    SELECT s_suppkey, revenue_cents, worst_lag_days
    FROM sky
    WHERE (rm IS NULL OR rm > worst_lag_days)
      AND worst_lag_days = same_min
"""


ITEM_SIM_K = 5


def star_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: for every part, its top-K
    most-similar parts by co-purchase cosine —
    ``n_both / sqrt(deg_a * deg_b)`` over the order co-occurrence graph
    — the classic neighborhood-method recommender ("customers who
    bought this also bought").

    Determinism: similarities divide exact integers and sqrt/div are
    IEEE-correctly-rounded, so both engines order identical doubles;
    ties break on part2.  Scale: the pair expansion is the co-purchase
    self-join co-partitioned on l_orderkey (bounded by basket² per
    order); the degree joins key on part ids (no hint — the part
    relation is data-sized, AQE decides); the per-part top-K rides
    WindowGroupLimit so K rows per part cross the final exchange.
    Round 11: the != pair counts are the symmetrization of the shared
    weighted pair memo (canonical counts are direction-independent),
    so the basket self-join is one persisted read."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    deg = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count("*").alias("deg")
    )
    und = _copurchase_weighted(spark, sf_dir)
    pairs = und.select(
        F.col("p1").alias("part1"),
        F.col("p2").alias("part2"),
        F.col("w").alias("n_both"),
    ).unionByName(
        und.select(
            F.col("p2").alias("part1"),
            F.col("p1").alias("part2"),
            F.col("w").alias("n_both"),
        )
    )
    sim = (
        pairs.join(
            deg.select(
                F.col("part").alias("part1"), F.col("deg").alias("deg1")
            ),
            "part1",
        )
        .join(
            deg.select(
                F.col("part").alias("part2"), F.col("deg").alias("deg2")
            ),
            "part2",
        )
        .withColumn(
            "sim", F.col("n_both") / F.sqrt(F.col("deg1") * F.col("deg2"))
        )
    )
    return top_k_per_key(
        sim, ["part1"], [F.desc("sim"), F.asc("part2")], ITEM_SIM_K
    ).select(
        "part1",
        "part2",
        F.round("sim", 6).alias("cosine_sim"),
        "n_both",
    )


QUERIES["star_item_similarity"] = star_item_similarity

ORACLE["star_item_similarity"] = f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (
        SELECT l_partkey AS part, count(*)::BIGINT AS deg FROM li GROUP BY 1
    ),
    pairs AS (
        SELECT a.l_partkey AS part1, b.l_partkey AS part2,
               count(*)::BIGINT AS n_both
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    sim AS (
        SELECT part1, part2, n_both,
               n_both / sqrt(d1.deg * d2.deg) AS sim
        FROM pairs
        JOIN deg d1 ON part1 = d1.part
        JOIN deg d2 ON part2 = d2.part
    ),
    rk AS (
        SELECT part1, part2, n_both, sim,
               row_number() OVER (
                   PARTITION BY part1 ORDER BY sim DESC, part2 ASC
               ) AS rn
        FROM sim
    )
    SELECT part1, part2, round(sim, 6) AS cosine_sim, n_both
    FROM rk WHERE rn <= {ITEM_SIM_K}
"""


# --------------------------------------------------------------------------
# Label-propagation community detection on the co-purchase graph
# --------------------------------------------------------------------------

LPA_ROUNDS = 3
LPA_MIN_SUPPORT = 2


def _copurchase_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p1, p2, w): the canonical (p1 < p2) co-purchase pair counts —
    the ONE basket self-join every co-purchase consumer derives from.

    Round 11 (guide §1.2): five consumers each re-ran the
    Σ|basket|² order self-join with only cosmetic differences —
    star_copurchase_pairs (no threshold, counts), the triangle census
    (threshold 2, canonical), item similarity (counts, both
    directions), the LPA/assortativity/k-core edge memo (threshold,
    symmetrized) and the PageRank pair memo (no counts, symmetrized).
    Every variant is a projection/filter/symmetrization of THIS
    relation, so it is a session memo and the join is paid once."""

    def build() -> DataFrame:
        li = (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        return (
            self_pairs(li, "l_orderkey", "l_partkey")
            .groupBy(
                F.col("a.l_partkey").alias("p1"),
                F.col("b.l_partkey").alias("p2"),
            )
            .agg(F.count("*").alias("w"))
            .persist()
        )

    return memo("lpa_edges/wpairs", spark, sf_dir, build)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized, support-thresholded co-purchase edge list — the one
    graph every structure metric here runs on (LPA, assortativity,
    k-core).

    A session memo built from the shared weighted pair memo: one
    persisted derivation serves LPA, assortativity, and k-core alike —
    one co-occurrence shuffle per session, not one per metric."""

    def build() -> DataFrame:
        und = (
            _copurchase_weighted(spark, sf_dir)
            .filter(F.col("w") >= LPA_MIN_SUPPORT)
            .select("p1", "p2")
        )
        return (
            und.select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
            .unionByName(
                und.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
            )
            .persist()
        )

    return memo("lpa_edges/edges", spark, sf_dir, build)


def _copurchase_edges_cte(materialized: bool = False) -> str:
    """The oracle-side twin of ``_copurchase_edges`` (CTEs ``li``,
    ``und``, ``ed``) — one definition, three consumers, so the Spark
    and SQL graphs cannot drift apart per metric.  ``materialized``
    marks the CTEs MATERIALIZED for consumers whose unrolled chains
    would otherwise inline the scan exponentially (k-core)."""
    m = "MATERIALIZED " if materialized else ""
    return f"""li AS {m}(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        und AS {m}(
            SELECT a.l_partkey AS p1, b.l_partkey AS p2
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {LPA_MIN_SUPPORT}
        ),
        ed AS {m}(
            SELECT p1 AS src, p2 AS dst FROM und
            UNION ALL
            SELECT p2 AS src, p1 AS dst FROM und
        )"""


def star_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the part co-purchase graph: synchronous
    label propagation (LPA), ``LPA_ROUNDS`` rounds, each node adopting
    the most frequent label among its neighbors (ties -> smallest
    label).  Unlike connected components (which collapses everything
    reachable) LPA finds densely co-purchased part groups — the
    merchandising "aisles" of the catalog; unlike PageRank it yields a
    partition, not a ranking.  Fixed round count + total tie order make
    the result bit-stable across engines and partitionings.

    Scale: edges are basket pairs with support >= LPA_MIN_SUPPORT
    (co-partitioned self-join on the order key, pair expansion bounded
    by basket size squared); each round is one edge ⋈ labels hash join
    on dst + one (node, label) vote aggregate + a rank-1 window that
    rides WindowGroupLimit over the O(node-degree-distinct-labels) vote
    relation — never the fact table.  The edge relation feeds every
    round, so it is persisted once (O(frequent pairs) rows).
    """
    edges = _copurchase_edges(spark, sf_dir)

    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    rk = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(LPA_ROUNDS):
        votes = (
            edges.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .groupBy("src", "label")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(rk))
            .filter("rn = 1")
            .select(F.col("src").alias("node"), "label")
        )
    return labels.select(
        F.col("node").alias("part_id"), F.col("label").alias("community")
    )


QUERIES["star_part_communities"] = star_part_communities


def _oracle_lpa() -> str:
    parts = [
        _copurchase_edges_cte(),
        """l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed)""",
    ]
    for r in range(LPA_ROUNDS):
        parts.append(f"""v{r + 1} AS (
            SELECT e.src, l.label, count(*)::BIGINT AS c
            FROM ed e JOIN l{r} l ON e.dst = l.node
            GROUP BY 1, 2
        )""")
        parts.append(f"""l{r + 1} AS (
            SELECT src AS node, label FROM (
                SELECT src, label, row_number() OVER (
                    PARTITION BY src ORDER BY c DESC, label ASC
                ) AS rn
                FROM v{r + 1}
            ) WHERE rn = 1
        )""")
    return (
        "WITH " + ",\n".join(parts)
        + f" SELECT node AS part_id, label AS community FROM l{LPA_ROUNDS}"
    )


ORACLE["star_part_communities"] = _oracle_lpa()


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------

# round(log10(1 + 1/d) * 1e6) for d = 1..9 — the Benford micro-proportions,
# precomputed once and embedded as identical literals in both dialects.
BENFORD_UP = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def star_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: the observed first-digit
    distribution of ``o_totalprice`` against the log10(1 + 1/d)
    expectation, with each digit's chi-square contribution — the
    classic forensic-accounting screen for fabricated or
    threshold-gamed amounts.

    Determinism: the first digit comes from the exact integer cents
    (never a float format); expected proportions are fixed integer
    micro-proportions; the scaled deviation ``obs·1e6 − N·p_µ`` is
    exact int64 and each chi-square term is one float expression over
    those integers, rounded once.  (The deviation is squared AFTER a
    ``* 1.0`` promotion — its int64 square could overflow at ~10⁶⁺
    orders per digit; the double is exact to 2^53 and identically
    rounded on both engines beyond that.)

    Scale: one conditional hash aggregate over the fact scan collapses
    to 9 digit rows + a broadcast 1-row total — the audit report is
    O(9) at any order volume."""
    orders = load(spark, sf_dir, "orders")
    digits = (
        orders.select(
            F.substring(cents("o_totalprice").cast("string"), 1, 1)
            .cast("int")
            .alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count("*").alias("observed"))
    )
    total = digits.agg(F.sum("observed").alias("n"))
    bp = F.element_at(
        F.create_map(*[F.lit(x) for kv in BENFORD_UP.items() for x in kv]),
        F.col("first_digit"),
    )
    j = digits.join(F.broadcast(total)).withColumn("bp", bp)
    ds = F.col("observed") * 1000000 - F.col("n") * F.col("bp")
    contrib = (ds * 1.0) * (ds * 1.0) / (1000000.0 * F.col("n") * F.col("bp"))
    return j.select(
        "first_digit",
        "observed",
        F.col("bp").alias("expected_micro_prop"),
        F.round(contrib, 6).alias("chi2_term"),
    )


QUERIES["star_benford_audit"] = star_benford_audit

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {up}" for d, up in BENFORD_UP.items()
)

ORACLE["star_benford_audit"] = f"""
    WITH digits AS (
        SELECT left((round(o_totalprice * 100)::BIGINT)::VARCHAR, 1)::INTEGER
                   AS first_digit,
               count(*)::BIGINT AS observed
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(observed)::BIGINT AS n FROM digits),
    j AS (
        SELECT first_digit, observed, n,
               (CASE first_digit {_BENFORD_CASE} END)::BIGINT AS bp
        FROM digits, tot
    )
    SELECT first_digit, observed, bp AS expected_micro_prop,
           round((observed * 1000000 - n * bp) * 1.0
                 * ((observed * 1000000 - n * bp) * 1.0)
                 / (1000000.0 * n * bp), 6) AS chi2_term
    FROM j
"""


# --------------------------------------------------------------------------
# Sweep-line open-interval count
# --------------------------------------------------------------------------

def star_open_orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order inventory over time: for each change-point day, how
    many orders were placed but not yet fully shipped (an order stays
    open from ``o_orderdate`` until its last lineitem ships).  This is
    the sweep-line / interval-stabbing operator: every interval emits
    a +1 at its start and a −1 past its end, deltas aggregate per day,
    and a running sum turns them into the live count — the step
    function at its change points.

    Scale: the naive form (per-day × open-order join) is quadratic in
    the busy season; the sweep line is one per-order aggregate (last
    ship date), a 2×O(orders) delta union, a per-day aggregate, and
    ONE ordered window over the O(distinct days) relation — never a
    fact-table sort.  A time-bucketed variant (running sum per bucket +
    bucket-prefix broadcast) drops in if the day domain itself ever
    outgrows a partition; at daily grain that is ~36,500 rows a
    century, so the single window is the right plan."""
    last_ship = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = o.join(last_ship, o.o_orderkey == last_ship.l_orderkey)
    starts = j.select(
        F.date_trunc("day", "o_orderdate").alias("day"),
        F.lit(1).alias("delta"),
    )
    ends = j.select(
        (F.date_trunc("day", "last_ship") + F.expr("INTERVAL 1 DAY")).alias(
            "day"
        ),
        F.lit(-1).alias("delta"),
    )
    daily = (
        starts.unionByName(ends)
        .groupBy("day")
        .agg(F.sum("delta").alias("d"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", F.sum("d").over(w).cast("long").alias("open_orders")
    )


QUERIES["star_open_orders_daily"] = star_open_orders_daily

ORACLE["star_open_orders_daily"] = """
    WITH last_ship AS (
        SELECT l_orderkey, max(l_shipdate) AS last_ship
        FROM lineitem GROUP BY 1
    ),
    deltas AS (
        SELECT date_trunc('day', o_orderdate)::TIMESTAMP AS day, 1 AS delta
        FROM orders JOIN last_ship ON o_orderkey = l_orderkey
        UNION ALL
        SELECT date_trunc('day', last_ship)::TIMESTAMP + INTERVAL 1 DAY,
               -1
        FROM orders JOIN last_ship ON o_orderkey = l_orderkey
    ),
    daily AS (SELECT day, sum(delta)::BIGINT AS d FROM deltas GROUP BY 1)
    SELECT day,
           (sum(d) OVER (ORDER BY day
                         ROWS UNBOUNDED PRECEDING))::BIGINT AS open_orders
    FROM daily
"""


# --------------------------------------------------------------------------
# Q5 shape: local supplier volume
# --------------------------------------------------------------------------

LOCAL_VOLUME_RANGE = ("1995-01-01", "1997-01-01")


def star_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape (local supplier volume): discounted revenue per nation
    where the CUSTOMER and the SUPPLIER sit in the same nation — the
    join form Q7 lacks: one dimension key constrains BOTH legs of the
    fact chain (c_nationkey = s_nationkey), turning the nation dim into
    an equality bridge instead of two independent filters.

    Scale: the fact chain shuffles on its natural keys
    (lineitem⋈orders⋈customer / lineitem⋈supplier); the nation equality
    is enforced as a residual on the already-joined row (both nationkey
    columns are present), so no extra shuffle exists for it, and the
    nation name arrives by one broadcast at the end."""
    lo, hi = LOCAL_VOLUME_RANGE
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_disc_cents()).alias("revenue_cents"))
    )


QUERIES["star_local_supplier_volume"] = star_local_supplier_volume

ORACLE["star_local_supplier_volume"] = f"""
    SELECT n_name AS nation,
           sum({DUCK_DISC_CENTS})::BIGINT AS revenue_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE c_nationkey = s_nationkey
      AND o_orderdate >= '{LOCAL_VOLUME_RANGE[0]}'
      AND o_orderdate < '{LOCAL_VOLUME_RANGE[1]}'
    GROUP BY 1
"""


# --------------------------------------------------------------------------
# Graph structure metrics: assortativity + k-core
# --------------------------------------------------------------------------

def star_copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all (directed) edges — positive
    means popular parts co-sell with popular parts (hub-clustered
    catalog), negative means hub-and-spoke.  The one-number structural
    summary that tells you whether degree-ordered algorithms (the
    triangle census's orientation trick) will pay off.

    Determinism: degrees are exact integers, the five correlation
    moments accumulate as exact int64 over the symmetrized edge list,
    and r is ONE float expression rounded once (the Pearson-moments
    discipline).  Scale: degrees are an O(nodes) aggregate, the moment
    pass an O(edges) join-and-reduce — no windows, no sorts; the edge
    relation feeds the degree aggregate AND both moment-join sides, so
    it rides the shared persisted helper."""
    ed = _copurchase_edges(spark, sf_dir)
    deg = ed.groupBy("src").agg(F.count("*").alias("d"))
    j = (
        ed.join(deg.select(F.col("src"), F.col("d").alias("dx")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("dy")),
            "dst",
        )
    )
    m = j.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * 1.0
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


QUERIES["star_copurchase_assortativity"] = star_copurchase_assortativity

ORACLE["star_copurchase_assortativity"] = f"""
    WITH {_copurchase_edges_cte()},
    deg AS (SELECT src, count(*)::BIGINT AS d FROM ed GROUP BY 1),
    j AS (
        SELECT dx.d AS dx, dy.d AS dy
        FROM ed
        JOIN deg dx ON ed.src = dx.src
        JOIN deg dy ON ed.dst = dy.src
    ),
    m AS (
        SELECT count(*)::BIGINT AS n, sum(dx)::BIGINT AS sx,
               sum(dy)::BIGINT AS sy, sum(dx * dy)::BIGINT AS sxy,
               sum(dx * dx)::BIGINT AS sxx, sum(dy * dy)::BIGINT AS syy
        FROM j
    )
    SELECT (n // 2)::BIGINT AS n_edges,
           round((n * sxy - sx * sy) /
                 sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)),
                 6) AS assortativity
    FROM m
"""


K_CORE = 3
KCORE_ROUNDS = 16  # cap; early-exits at the fixpoint (measured depth 10 at sf0.01)


def star_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core of the co-purchase graph: iteratively peel nodes of degree
    < K and report survivors with their within-core degree — the
    robustness filter community detection wants as a preprocessing step
    (LPA on the raw graph chases low-degree tendrils; on the core it
    finds the dense heart).

    Peels to the FIXPOINT with early exit, capped at ``KCORE_ROUNDS``
    synchronous rounds (measured convergence depth 10 at sf0.01, so the
    cap of 16 yields the true k-core at test scales); the oracle
    unrolls exactly the cap, and rounds past convergence are no-ops, so
    the two engines are equal whether or not the cap is hit — and if a
    pathological graph ever needed more than the cap, BOTH sides would
    compute the identical capped superset, never diverge.

    Scale: each round is a degree aggregate plus two semi joins keyed on
    the node — survivors only shrink, so per-round cost is bounded by
    the previous round's edge count; the keep set is eagerly
    checkpointed per round (it feeds two joins and the next round — the
    iterative-algorithm discipline), which also makes the early-exit
    count read free."""
    alive = _copurchase_edges(spark, sf_dir)
    prev_nodes = -1
    for _ in range(KCORE_ROUNDS):
        keep = (
            alive.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= K_CORE)
            .select("src")
            .localCheckpoint(eager=True)
        )
        n_nodes = keep.count()  # free: reads the checkpointed blocks
        if n_nodes == prev_nodes:
            break  # fixpoint: nobody dropped, the subgraph is stable
        prev_nodes = n_nodes
        alive = alive.join(keep, "src", "semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "semi"
        )
    return alive.groupBy(F.col("src").alias("part_id")).agg(
        F.count("*").alias("core_degree")
    )


QUERIES["star_copurchase_kcore"] = star_copurchase_kcore


def _oracle_kcore() -> str:
    # every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and the
    # unrolled peel references each round's relation twice — inlining
    # makes the scan fan-out exponential in rounds ("too many open
    # files" at 16 rounds); materialization evaluates each round once,
    # the same thing the Spark side's per-round checkpoint does
    parts = [
        _copurchase_edges_cte(materialized=True),
        """e0 AS MATERIALIZED (SELECT src, dst FROM ed)""",
    ]
    for r in range(KCORE_ROUNDS):
        parts.append(f"""k{r + 1} AS MATERIALIZED (
            SELECT src FROM e{r} GROUP BY src
            HAVING count(*) >= {K_CORE}
        )""")
        parts.append(f"""e{r + 1} AS MATERIALIZED (
            SELECT e.src, e.dst FROM e{r} e
            JOIN k{r + 1} a ON e.src = a.src
            JOIN k{r + 1} b ON e.dst = b.src
        )""")
    return (
        "WITH " + ",\n".join(parts)
        + f" SELECT src AS part_id, count(*)::BIGINT AS core_degree"
        f" FROM e{KCORE_ROUNDS} GROUP BY 1"
    )


ORACLE["star_copurchase_kcore"] = _oracle_kcore()
