"""The remaining distinctive TPC-H query shapes (SURVEY.md §2e extension).

The reference (a socket-level MapReduce scheduler — no relational layer,
see SURVEY.md §2) cannot express any of these; they complete the decision-
support surface so a user has every classic optimizer mechanism available:

  - correlated scalar subqueries (Q2, Q17 family) — Catalyst decorrelates
    them into aggregate + join; no per-row re-execution ever happens;
  - scalar subqueries in HAVING against a global aggregate (Q11);
  - aggregate-view max selection (Q15);
  - semi join against a grouped-HAVING derived table (Q18);
  - EXISTS / NOT EXISTS pairs rewritten as ONE grouped profile (Q21);
  - anti join + scalar-subquery threshold + derived grouping (Q22);
  - conditional-share ratios over a multi-dim join (Q8, Q9);
  - null-aware anti join (NOT IN over a nullable subquery column).

The schema here is the driver's TPC-H-ish subset (no partsupp, no
comment/commit/receipt columns — TESTDATA.md), so each query keeps the
*shape* (the optimizer mechanism) with predicates adapted to the columns
that exist. Determinism discipline is the package standard: decimal
accumulation for monetary sums, unique-key tie-breaks, aliases identical
to the DuckDB oracles.

Scale notes per query; shared rules are relational.py's (dims broadcast,
fact-fact shuffles keyed, partial aggregation before every exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..tables import load_table
from ..staging import memoized_plan


def _dec_sum(expr, alias: str, prec: str = "decimal(22,4)"):
    return F.sum(expr.cast(prec)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Q2 shape: correlated scalar subquery → per-group min, decorrelated
# ---------------------------------------------------------------------------

@memoized_plan
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part, the supplier(s) whose unit price
    equals the part's minimum unit price (correlated scalar subquery).

    Expressed through the SQL entry point so Catalyst's decorrelation is
    the mechanism under test: the correlated ``(SELECT min(...) WHERE
    l2.partkey = l1.partkey)`` becomes an Aggregate on l_partkey joined
    back to the outer scan — ONE extra shuffle at |parts| cardinality,
    never a per-row subquery. Unit price is a single IEEE division, bit-
    identical in both engines, so the equality predicate and the output
    hash are exact.

    Scale: two scans of lineitem (outer + decorrelated aggregate), both
    pruned to 3 columns; the join keys on l_partkey. At 100 TB the
    aggregate side is |parts|-cardinality — broadcastable after AQE
    measures it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_tq")
    return spark.sql(
        """
        SELECT DISTINCT l_partkey, l_suppkey,
               l_extendedprice / l_quantity AS unit_price
        FROM lineitem_tq l1
        WHERE l_extendedprice / l_quantity = (
            SELECT min(l_extendedprice / l_quantity)
            FROM lineitem_tq l2
            WHERE l2.l_partkey = l1.l_partkey
        )
        ORDER BY l_partkey, l_suppkey
        """
    )


MIN_COST_SUPPLIER_SQL = """
SELECT DISTINCT l_partkey, l_suppkey,
       l_extendedprice / l_quantity AS unit_price
FROM lineitem l1
WHERE l_extendedprice / l_quantity = (
    SELECT min(l_extendedprice / l_quantity)
    FROM lineitem l2
    WHERE l2.l_partkey = l1.l_partkey
)
ORDER BY l_partkey, l_suppkey
"""


# ---------------------------------------------------------------------------
# Q11 shape: HAVING against a global-aggregate scalar subquery
# ---------------------------------------------------------------------------

IMPORTANT_PART_FRACTION = 0.00055  # ~1.1× the mean part share at sf0.01


def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds a fixed fraction of
    GLOBAL revenue — a scalar subquery inside HAVING.

    Catalyst plans the global sum as an independent 1-row subquery reused
    as a literal in the filter; the per-part aggregate shuffles once at
    |parts| cardinality. Both sides accumulate in decimal so the
    threshold comparison (fraction × exact total) is identical in both
    engines — a double-summed total could flip rows sitting on the
    boundary.

    Scale: the global-sum subquery is a full-scan partial aggregate (one
    1-row exchange); the threshold broadcast is free. Same shape at any
    corpus size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_tq")
    return spark.sql(
        f"""
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(22,4))) AS DOUBLE) AS part_value
        FROM lineitem_tq
        GROUP BY l_partkey
        HAVING sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(22,4)))
               > {IMPORTANT_PART_FRACTION} * (
                   SELECT sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(22,4)))
                   FROM lineitem_tq
               )
        ORDER BY part_value DESC, l_partkey
        """
    )


IMPORTANT_PARTS_SQL = f"""
SELECT l_partkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(22,4))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4)))
       > {IMPORTANT_PART_FRACTION} * (
           SELECT sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(22,4)))
           FROM lineitem
       )
ORDER BY part_value DESC, l_partkey
"""


# ---------------------------------------------------------------------------
# Q15 shape: top supplier(s) by revenue via an aggregate-view max
# ---------------------------------------------------------------------------

Q15_START, Q15_END = "1998-01-01", "1998-04-01"


def max_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose quarterly revenue equals the
    maximum over all suppliers (aggregate view + scalar max subquery —
    returns ALL ties, which a LIMIT 1 would not).

    The revenue view is computed once and reused for both the join input
    and the max (Catalyst reuses the exchange); decimal accumulation
    makes max-equality exact across engines.

    Scale: revenue view is one |suppliers|-cardinality exchange off a
    pruned, date-filtered scan; the max is a 1-row fold of that view;
    supplier dim broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit(Q15_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q15_END).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "total_rev",
            )
        )
    )
    max_rev = rev.agg(F.max("total_rev").alias("mr"))
    return (
        rev.join(broadcast(max_rev), rev.total_rev == max_rev.mr)
        .join(broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


MAX_REVENUE_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(22,4))) AS DOUBLE) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_START} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{Q15_END} 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q18 shape: semi join against a grouped-HAVING derived table
# ---------------------------------------------------------------------------

LARGE_ORDER_QTY = 200


def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with customer detail — IN (grouped HAVING subquery).

    The qualifying-key set is a |orders|-cardinality aggregate with the
    HAVING applied BEFORE the join (the whole point of the shape: filter
    at aggregate cardinality, then enrich). Quantity sums accumulate in
    decimal so threshold crossings are exact.

    Scale: one keyed aggregate exchange + one keyed join on o_orderkey;
    customer dim broadcasts; TakeOrdered caps the output at 100.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("dq")
        )
        .where(F.col("dq") > LARGE_ORDER_QTY)
        .select(
            "l_orderkey", F.col("dq").cast("double").alias("sum_qty")
        )
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


LARGE_QUANTITY_ORDERS_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_totalprice,
       CAST(sum_qty_d AS DOUBLE) AS sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_d
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {LARGE_ORDER_QTY}
) q ON o_orderkey = q.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q21 shape: correlated EXISTS + NOT EXISTS pair → ONE grouped profile
# ---------------------------------------------------------------------------

@memoized_plan
def sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY supplier with a
    returned line on a multi-supplier order, ranked by how often.

    The textbook form is a correlated EXISTS (another supplier on the
    order) + NOT EXISTS (another supplier with a returned line) — two
    extra scans of lineitem and two correlated joins. The Spark-first
    plan collapses both into ONE per-order profile: distinct supplier
    count and the distinct set of suppliers with 'R' lines; an order
    blames supplier s iff its R-set == {s} and it has >1 supplier. Same
    semantics (oracle below is the correlated form), one lineitem scan,
    one |orders|-cardinality exchange instead of three.

    Scale: the per-order R-supplier set is bounded by suppliers-per-
    order (≤7 in TPC-H lineage); the final per-supplier count is a
    |suppliers|-row aggregate. No self-join of the fact table at all.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    # n_supp comes from the SIZE of a collected set, not countDistinct:
    # mixing a distinct aggregate with collect_set makes Spark plan the
    # aggregation through an Expand (every input row doubled, one copy
    # per aggregate class); two plain collect_sets keep the single-pass
    # partial/final shape. Both sets are bounded by suppliers-per-order.
    profile = (
        li.groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_suppkey")).alias("n_supp"),
            F.array_sort(
                F.collect_set(
                    F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
                )
            ).alias("r_supps"),
        )
        .where((F.col("n_supp") > 1) & (F.size("r_supps") == 1))
        .select(F.col("r_supps")[0].alias("l_suppkey"))
    )
    return (
        profile.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
    )


SOLE_BLAME_SUPPLIERS_SQL = """
SELECT s_suppkey, s_name, count(*) AS numwait
FROM supplier,
     (SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
      FROM lineitem l1
      WHERE l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')) w
WHERE s_suppkey = w.l_suppkey
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey ASC
"""


# ---------------------------------------------------------------------------
# Q22 shape: anti join + scalar-subquery threshold + derived grouping
# ---------------------------------------------------------------------------

def idle_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance and
    no finalized ('F') order, grouped by a derived code (nationkey band —
    the schema has no phone column; TESTDATA.md).

    Mechanisms: a scalar subquery (the positive-balance average) feeding
    a filter, an ANTI join against a filtered subquery (not "no orders at
    all" — every customer here has orders), and grouping on a derived
    expression. The average is compared, not emitted, so plain double
    avg is safe: both engines compute sum/count over identical doubles
    in some order — we pin exactness by decimal-accumulating the sum
    before dividing.

    Scale: the threshold is a broadcast 1-row aggregate; the anti join
    shuffles only (custkey) pairs at order-key cardinality; output is
    |bands| rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    finalized = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        cust.crossJoin(broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            finalized, cust.c_custkey == finalized.o_custkey, "left_anti"
        )
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cband"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cband")
    )


IDLE_HIGH_BALANCE_SQL = """
SELECT CAST(c_nationkey % 5 AS INT) AS cband,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(*)
        FROM customer WHERE c_acctbal > 0
      )
  AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      )
GROUP BY 1
ORDER BY cband
"""


# ---------------------------------------------------------------------------
# Q8 shape: market share — conditional revenue ratio per year
# ---------------------------------------------------------------------------

Q8_REGION = "ASIA"
Q8_SUPP_NATION_KEY = 7
Q8_PART_TYPE = "ECONOMY"


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: for one part type sold to customers of one region,
    the share of revenue supplied by one nation's suppliers, per order
    year — a conditional-sum / total-sum ratio inside a grouped
    aggregate over a 6-table join.

    Exactness: numerator and denominator are separate decimal sums cast
    to double, then ONE IEEE division — identical in both engines.

    Scale: lineitem⋈orders is the only fact-fact shuffle; part,
    customer, nation, region, supplier all broadcast (part is filtered
    to one type first, shrinking the build side further). The grouped
    ratio is |years| rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    econ_parts = part.where(F.col("p_type") == Q8_PART_TYPE).select("p_partkey")
    asia_cust = (
        cust.join(
            broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == Q8_REGION)
        .select("c_custkey")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_rev = F.when(
        F.col("s_nationkey") == Q8_SUPP_NATION_KEY, rev
    ).otherwise(F.lit(0.0))
    return (
        li.join(broadcast(econ_parts), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(asia_cust), orders.o_custkey == F.col("c_custkey"))
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            _dec_sum(nat_rev, "nation_rev"),
            _dec_sum(rev, "total_rev"),
        )
        .select(
            "o_year",
            "nation_rev",
            "total_rev",
            (F.col("nation_rev") / F.col("total_rev")).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


MARKET_SHARE_SQL = f"""
WITH base AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS rev,
         s_nationkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = '{Q8_PART_TYPE}'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = '{Q8_REGION}'
  JOIN supplier ON l_suppkey = s_suppkey
)
SELECT o_year,
       CAST(sum(CAST(CASE WHEN s_nationkey = {Q8_SUPP_NATION_KEY}
                          THEN rev ELSE 0.0 END AS DECIMAL(22,4)))
            AS DOUBLE) AS nation_rev,
       CAST(sum(CAST(rev AS DECIMAL(22,4))) AS DOUBLE) AS total_rev,
       CAST(sum(CAST(CASE WHEN s_nationkey = {Q8_SUPP_NATION_KEY}
                          THEN rev ELSE 0.0 END AS DECIMAL(22,4)))
            AS DOUBLE)
       / CAST(sum(CAST(rev AS DECIMAL(22,4))) AS DOUBLE) AS mkt_share
FROM base
GROUP BY o_year
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# Q9 shape: profit by supplier nation and year
# ---------------------------------------------------------------------------

def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus cost) grouped by supplier
    nation and order year over a 5-table join. The schema has no
    ps_supplycost, so cost is p_retailprice × quantity (TESTDATA.md) —
    the join/aggregate shape is unchanged.

    Exactness: profit is computed per row from doubles (bit-identical
    products/subtraction in both engines), then decimal-accumulated.

    Scale: lineitem⋈orders shuffles on orderkey; part and supplier+nation
    broadcast; output is |nations|×|years| rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dec_sum(profit, "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


PROFIT_BY_NATION_YEAR_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity
                     AS DECIMAL(22,4))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# NOT IN over a nullable subquery column → null-aware anti join
# ---------------------------------------------------------------------------

def not_in_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose key is NOT IN a NULLABLE subquery column — the
    three-valued-logic case a plain anti join gets wrong.

    ``NULLIF(o_custkey, -1)`` never actually nulls a row (keys are
    non-negative) but makes the column type nullable, so the optimizer
    cannot legally rewrite NOT IN to a plain LEFT ANTI: it must plan the
    null-aware form (broadcast NullAwareAntiJoin, or the
    ``key = k OR isnull(...)`` anti condition) that returns NO rows the
    moment a null appears in the subquery. DuckDB implements identical
    SQL semantics, so the oracle pins them.

    Scale: the subquery is the filtered high-value order keys —
    aggregate-side cardinality; Spark's null-aware path requires a
    broadcastable build side, which a selective filter keeps true here
    (the unselective case belongs in a plain anti join instead).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cust.createOrReplaceTempView("customer_tq")
    orders.createOrReplaceTempView("orders_tq")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer_tq
        WHERE c_custkey NOT IN (
            SELECT NULLIF(o_custkey, -1) FROM orders_tq
            WHERE o_totalprice > 400000
        )
        ORDER BY c_custkey
        """
    )


NOT_IN_CUSTOMERS_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (
    SELECT NULLIF(o_custkey, -1) FROM orders
    WHERE o_totalprice > 400000
)
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# Q10 shape: returned-item revenue ranking (top-k over a 4-table agg)
# ---------------------------------------------------------------------------

Q10_YEAR = 1996


def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the customers who returned the most revenue in
    one year — join returned lineitems (l_returnflag = 'R') through
    orders to customer + nation, aggregate revenue per customer, keep the
    top 20. The mechanism: a fact-fact join feeding a grouped top-k whose
    ORDER BY is a computed aggregate.

    Exactness: revenue is a decimal accumulation (order-independent, so
    both engines compute the identical double) and the top-20 ties break
    on c_custkey. Scale: lineitem⋈orders is the only fact-fact shuffle
    (both filtered first — returnflag and order year); customer/nation
    broadcast; the rank runs on the |customers| aggregate with a
    WindowGroupLimit-able global top-k (LIMIT, not a window)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.where(F.col("l_returnflag") == "R")
        .join(
            orders.where(F.year("o_orderdate") == Q10_YEAR),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("o_custkey")
        .agg(_dec_sum(rev, "revenue"))
    )
    return (
        agg.join(broadcast(cust), agg.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey", "c_name", F.col("n_name").alias("nation"),
            "c_acctbal", "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


RETURNED_ITEM_REVENUE_SQL = f"""
SELECT c_custkey, c_name, n_name AS nation, c_acctbal,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey AND year(o_orderdate) = {Q10_YEAR}
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q12 shape: two-way conditional counts over a fact-fact join
# ---------------------------------------------------------------------------

Q12_YEAR = 1997


def linestatus_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode → linestatus, the column this schema
    has): for lineitems shipped in one year, per line status count the
    orders with HIGH priority (1-URGENT / 2-HIGH) vs everything else —
    the two-CASE-sum conditional aggregation over a fact-fact join.

    Exactness: pure integer counts. Scale: both facts filtered before
    the single keyed shuffle; the aggregate is |statuses| rows with full
    map-side combine."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(F.year("l_shipdate") == Q12_YEAR)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority"),
        )
        .orderBy("l_linestatus")
    )


LINESTATUS_PRIORITY_SQL = f"""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE year(l_shipdate) = {Q12_YEAR}
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# ---------------------------------------------------------------------------
# Q13 shape: distribution of customers by order count (outer-join histogram)
# ---------------------------------------------------------------------------

def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly N qualifying
    orders — INCLUDING the zero-order customers, which is the whole
    point: a LEFT OUTER join with the predicate on the join's right side
    (qualifying = not LOW priority), a per-customer count that counts
    only matched rows, then a second aggregation over the counts. Two
    stacked GROUP BYs where the inner one must preserve unmatched keys —
    the mechanism no inner-join formulation can express.

    Exactness: integer counts end to end. Scale: the outer join shuffles
    on custkey; the histogram aggregate is |distinct counts| rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


CUSTOMER_ORDER_DIST_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Q17 shape: correlated per-group average threshold, decorrelated
# ---------------------------------------------------------------------------

def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue that would be lost by not
    filling small orders — lineitems whose quantity is below HALF their
    part's average quantity. The mechanism: a correlated per-group
    aggregate threshold, decorrelated into (per-part aggregate) ⋈ fact.

    Exactness: quantities in this dataset are integral doubles, so the
    threshold comparison runs in EXACT integer arithmetic — qty <
    0.5·(sum/cnt) rewritten as 2·qty·cnt < sum with longs (never a
    float divide); the final figure is one decimal accumulation and ONE
    IEEE division by 7.0, identical in both engines. Scale: the per-part
    aggregate is |parts| rows and broadcasts back onto the fact scan —
    one lineitem pass plus a tiny build side."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    per_part = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(q).alias("qsum"),
            F.count(F.lit(1)).alias("qcnt"),
        )
        .withColumnRenamed("l_partkey", "pk")
    )
    rev = F.col("l_extendedprice")
    return (
        li.join(broadcast(per_part), li.l_partkey == F.col("pk"))
        .where((F.lit(2) * q * F.col("qcnt")) < F.col("qsum"))
        .agg(_dec_sum(rev, "total"))
        .select(
            (F.col("total") / F.lit(7.0)).alias("avg_yearly_revenue")
        )
    )


SMALL_QUANTITY_REVENUE_SQL = """
WITH pp AS (
  SELECT l_partkey AS pk,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qsum,
         count(*) AS qcnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(22,4))) AS DOUBLE) / 7.0
         AS avg_yearly_revenue
FROM lineitem JOIN pp ON l_partkey = pk
WHERE 2 * CAST(l_quantity AS BIGINT) * qcnt < qsum
"""


# ---------------------------------------------------------------------------
# Q19 shape: disjunction of conjunctive brackets (OR-of-ANDs pushdown)
# ---------------------------------------------------------------------------

def bracket_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three disjoint (brand, size range,
    quantity range) brackets OR'd together — the disjunctive-predicate
    mechanism that stresses CNF conversion and join-predicate pushdown:
    each disjunct constrains BOTH sides (part attributes AND lineitem
    quantity), so a naive plan joins first and filters later while the
    right plan pushes the part-side disjunction into the build side.

    Exactness: one decimal accumulation. Scale: part filtered by the
    OR'd brand/size predicate before broadcasting; one lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 10)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(11, 25)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(26, 50)
           & q.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.where(bracket).agg(_dec_sum(rev, "revenue"))


BRACKET_REVENUE_SQL = """
SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4)))
            AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 11 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 26 AND 50
       AND l_quantity BETWEEN 20 AND 30)
"""
