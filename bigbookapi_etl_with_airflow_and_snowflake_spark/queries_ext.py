"""Extended query registry: full TPC-H query-shape coverage + LLM
training-data-pipeline operators.

The reference implements no joins/aggregations at all (SURVEY.md §2.5),
so these are the "standard relational completions" of the build plan —
every remaining TPC-H query shape (Q2, Q4, Q8, Q9, Q11, Q12, Q13, Q15,
Q16, Q17, Q18, Q20, Q21, Q22), adapted to the driver corpus (which has
no ``partsupp`` table — part↔supplier relationships come from
``lineitem``), plus the data-curation operators a 100 TB training
pipeline needs: deterministic splits, stratified sampling, test-set
decontamination, PII scrubbing, repetition stats, length histograms.

Same hash-parity conventions as queries.py: money sums through exact
DECIMAL, ratios as single IEEE divisions of exact values, counts via
COUNT (BIGINT both engines), deterministic top-k tiebreaks, identical
aliases in both dialects. Hash-bucket assignment (splits/samples) uses
md5 hex compared/ordered lexicographically — portable across engines,
unlike engine-native hash().

Scale notes are per-query docstrings; the common rules: bounded dims
(region/nation and scalar aggregates) are broadcast explicitly,
corpus-scaled joins are left to AQE, aggregations are map-side partial
by construction (groupBy on built-in aggs), and every "IN (subquery)"
becomes a semi/anti join (no driver-side collect).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.splits import SPLIT_SALT, TRAIN_UPPER_HEX, VAL_UPPER_HEX
from .operators import neardup
from .session import materialize
from .sources.files import read_table

_t = read_table
_MONEY = "decimal(12,2)"
_RATE = "decimal(4,2)"


def _dec(col: str, typ: str = _MONEY):
    return F.col(col).cast(typ)


def _rev():
    """Exact decimal revenue expression l_extendedprice*(1-l_discount)."""
    one = F.lit(1).cast(_RATE)
    return _dec("l_extendedprice") * (one - _dec("l_discount", _RATE))


_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)


# ---------------------------------------------------------------------------
# Relational completions: remaining TPC-H query shapes
# ---------------------------------------------------------------------------


def q_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape: cheapest supplier per small part (correlated-MIN
    subquery → aggregate + self-join).

    Scale: per-part MIN is a map-side-partial groupBy (narrow shuffle on
    l_partkey); the join back to lineitem reuses the same key so AQE can
    co-partition. part/supplier joins scale with the corpus — AQE's
    call. MIN of doubles is exact (no accumulation), so the price
    equality is portable."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_size") <= 5)
    sup = _t(spark, sf, "supplier")
    mins = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    cheapest = li.join(
        mins,
        (li.l_partkey == mins.pk) & (li.l_extendedprice == mins.min_price),
    ).select("l_partkey", "l_suppkey", "min_price")
    return (
        cheapest.join(part, cheapest.l_partkey == part.p_partkey)
        .join(sup, cheapest.l_suppkey == sup.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "min_price")
        .distinct()
    )


SQL_MIN_COST_SUPPLIER = """
WITH mins AS (SELECT l_partkey AS pk, MIN(l_extendedprice) AS min_price
              FROM lineitem GROUP BY l_partkey)
SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, min_price
FROM lineitem, mins, part, supplier
WHERE l_partkey = pk AND l_extendedprice = min_price
  AND l_partkey = p_partkey AND l_suppkey = s_suppkey AND p_size <= 5
"""


def q_priority_exists_orders(spark, sf):
    """TPC-H Q4 shape: order-priority counts where EXISTS a lineitem
    shipped >60 days after the order date (semi join with a non-equi
    residual on the equi hash join).

    Scale: the date filter prunes orders at the scan; the semi join
    shuffles both sides on orderkey once and emits at most one match per
    order (no fan-out)."""
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_PRIORITY_EXISTS_ORDERS = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q_market_share(spark, sf):
    """TPC-H Q8 shape: one supplier-nation's share of revenue to a
    customer region, per order year.

    Scale: region→nation chains are bounded (25 rows) and broadcast to
    both the customer and supplier sides; the lineitem⋈orders⋈customer
    spine is the scaled path. Share = one IEEE division of two exact
    decimal sums per year."""
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    cust_nat = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    sup_nat = F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"), "n_name"))
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    customer = _t(spark, sf, "customer")
    supplier = _t(spark, sf, "supplier")
    li = _t(spark, sf, "lineitem")
    zero = F.lit(0).cast(_MONEY)
    nat_rev = F.when(F.col("n_name") == "NATION_7", _rev()).otherwise(zero)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(cust_nat, F.col("c_nationkey") == F.col("cn_key"))
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(sup_nat, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(nat_rev).cast("double") / F.sum(_rev()).cast("double")
            ).alias("mkt_share")
        )
    )


SQL_MARKET_SHARE = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
  CAST(SUM(CASE WHEN n2.n_name = 'NATION_7' THEN {_SQL_REV}
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
    / CAST(SUM({_SQL_REV}) AS DOUBLE) AS mkt_share
FROM lineitem, orders, customer, nation n1, region, supplier, nation n2
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_year
"""


def q_product_profit(spark, sf):
    """TPC-H Q9 shape: profit (revenue − retail cost of goods) by
    supplier nation and ship year, for one part type.

    Scale: part filter prunes before the join; nation is broadcast;
    lineitem⋈part⋈supplier is the scaled spine. All arithmetic stays in
    exact decimals until the final cast."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_type") == "STANDARD")
    supplier = _t(spark, sf, "supplier")
    nation = F.broadcast(_t(spark, sf, "nation"))
    amount = _rev() - _dec("p_retailprice") * _dec("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("l_shipdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


SQL_PRODUCT_PROFIT = f"""
SELECT n_name, CAST(EXTRACT(year FROM l_shipdate) AS INT) AS o_year,
  CAST(SUM({_SQL_REV}
      - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))
    AS DOUBLE) AS profit
FROM lineitem, part, supplier, nation
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey AND p_type = 'STANDARD'
GROUP BY n_name, o_year
"""


def q_important_parts(spark, sf):
    """TPC-H Q11 shape: parts whose total lineitem value exceeds a
    fraction of the corpus total (HAVING > scalar subquery).

    Scale: two map-side-partial aggregations over the same scan; the
    1-row global total is broadcast into the filter — no second pass
    over per-part groups, no driver collect."""
    li = _t(spark, sf, "lineitem")
    frac = F.lit("0.001").cast("decimal(4,3)")
    pv = li.groupBy("l_partkey").agg(F.sum(_dec("l_extendedprice")).alias("value"))
    thr = li.agg((F.sum(_dec("l_extendedprice")) * frac).alias("thr"))
    return (
        pv.join(F.broadcast(thr))
        .filter(F.col("value") > F.col("thr"))
        .select("l_partkey", F.col("value").cast("double").alias("part_value"))
    )


SQL_IMPORTANT_PARTS = """
WITH pv AS (SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value
            FROM lineitem GROUP BY l_partkey)
SELECT l_partkey, CAST(value AS DOUBLE) AS part_value FROM pv
WHERE value > (SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                 * CAST(0.001 AS DECIMAL(4,3)) FROM lineitem)
"""


def q_priority_line_counts(spark, sf):
    """TPC-H Q12 shape: high/low-priority order counts per line status
    for one ship year (conditional aggregation after an equi join)."""
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


SQL_PRIORITY_LINE_COUNTS = """
SELECT l_linestatus,
  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
FROM lineitem, orders
WHERE l_orderkey = o_orderkey
  AND l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_linestatus
"""


def q_cust_order_distribution(spark, sf):
    """TPC-H Q13 shape: distribution of customers by order count,
    including zero-order customers (LEFT JOIN with a join-time filter,
    two-level aggregation).

    Scale: the filter rides the join condition (not a WHERE, which
    would drop the NULL-extended rows); first groupBy is on c_custkey
    (high cardinality, map-side partial), second on the tiny count
    domain."""
    customer = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    cond = (customer.c_custkey == orders.o_custkey) & (
        orders.o_orderpriority != "5-LOW"
    )
    per_cust = (
        customer.join(orders, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


SQL_CUST_ORDER_DISTRIBUTION = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey) t
GROUP BY c_count
"""


def q_top_revenue_supplier(spark, sf):
    """TPC-H Q15 shape: supplier(s) with maximum revenue in a quarter
    (view + MAX scalar, equality on exact decimal sums).

    Scale: one partial-agg shuffle on l_suppkey; the 1-row MAX is
    broadcast back — the classic two-pass argmax without a sort."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    sup = _t(spark, sf, "supplier")
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_revenue").cast("double").alias("total_revenue")
        )
    )


SQL_TOP_REVENUE_SUPPLIER = f"""
WITH rev AS (SELECT l_suppkey, SUM({_SQL_REV}) AS total_revenue
             FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1998-01-01'
               AND l_shipdate < TIMESTAMP '1998-04-01'
             GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier, rev
WHERE s_suppkey = l_suppkey
  AND total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def q_supplier_part_counts(spark, sf):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    combo, excluding a supplier blocklist (NOT IN → anti join; safe
    because s_suppkey is non-null).

    Scale: the blocklist is a filtered dim broadcast into the anti
    join; COUNT(DISTINCT) shuffles once on the (brand,type,size) keys
    with partial distinct-aggregation."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_SUPPLIER_PART_COUNTS = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE l_partkey = p_partkey AND p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_small_qty_revenue(spark, sf):
    """TPC-H Q17 shape: revenue from below-average-quantity lineitems
    of one brand (correlated AVG subquery → co-grouped aggregate join).

    Scale: the per-part avg is a map-side-partial groupBy over the same
    scan; joining it back on l_partkey lets AQE co-partition with the
    part join. The threshold comparison is IEEE on exact sums/counts."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#13")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("l_quantity").alias("sq"), F.count("*").alias("cq")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.lit(0.2) * (F.col("sq") / F.col("cq")))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


SQL_SMALL_QTY_REVENUE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem l, part,
     (SELECT l_partkey AS pk, SUM(l_quantity) AS sq, COUNT(*) AS cq
      FROM lineitem GROUP BY l_partkey) a
WHERE l.l_partkey = p_partkey AND l.l_partkey = pk AND p_brand = 'Brand#13'
  AND l.l_quantity < 0.2 * (sq / cq)
"""


def q_large_orders(spark, sf):
    """TPC-H Q18 shape: top-100 large-quantity orders (IN over a
    HAVING-filtered aggregate → semi join; TakeOrderedAndProject for
    the top-k).

    Scale: the qualifying-order set is computed with one partial-agg
    shuffle and semi-joined (no fan-out); the final top-100 is a
    per-partition heap + driver merge, never a full sort."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    customer = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 120)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


SQL_LARGE_ORDERS = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       SUM(l_quantity) AS total_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 120)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q_excess_supply(spark, sf):
    """TPC-H Q20 shape: suppliers who shipped a large volume of one
    part type in a year (nested IN chain → aggregate-then-semi-join)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    part = _t(spark, sf, "part").filter(F.col("p_type") == "SMALL")
    sup = _t(spark, sf, "supplier")
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("tot_qty"))
        .filter(F.col("tot_qty") > 300)
    )
    return (
        sup.join(heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


SQL_EXCESS_SUPPLY = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem, part
  WHERE l_partkey = p_partkey AND p_type = 'SMALL'
    AND l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
  GROUP BY l_suppkey HAVING SUM(l_quantity) > 300)
"""


def q_waiting_suppliers(spark, sf):
    """TPC-H Q21 shape: suppliers who were the sole late shipper on a
    finished multi-supplier order (EXISTS + NOT EXISTS on the same
    fact, expressed as per-order supplier counts).

    Scale (round-14 rewrite, optimization guide §2.3/§2.4): the
    EXISTS/NOT EXISTS pair is a statement about the ORDER's supplier
    sets — "some other supplier shipped" ⇔ the order has ≥ 2 distinct
    suppliers, "no other supplier was late" ⇔ the order has exactly 1
    late supplier — so instead of semi/anti self-joins (which scanned
    lineitem three times and re-derived `late` twice behind a
    sort-merge anti join) the fact is scanned ONCE, reduced to
    (orderkey, suppkey, was_late) by one aggregation, then to per-order
    counts by a second: waiting pairs = orders with n_late = 1 and
    n_sup ≥ 2, keyed back to the lone late supplier. Equivalence: a
    `late` pair (o, s) survives the original semi+anti exactly when
    lineitem(o) holds another supplier (n_sup ≥ 2; s itself always
    belongs, so "≥ 2" ⇔ "another exists") and late(o) holds no other
    supplier (n_late = 1 with (o,s) late ⇔ s is the lone late
    supplier). The EXISTS domain needs no status filter: l2 rows share
    l1's orderkey, and that order IS status F."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    sup = _t(spark, sf, "supplier")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
                ).cast("int")
            ).alias("__late")
        )
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count("*").alias("__n_sup"),
        F.sum("__late").alias("__n_late"),
        F.max(F.when(F.col("__late") == 1, F.col("l_suppkey"))).alias("__late_sup"),
    )
    waiting = per_order.filter(
        (F.col("__n_late") == 1) & (F.col("__n_sup") >= 2)
    ).select(F.col("__late_sup").alias("l_suppkey"))
    return (
        waiting.join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


SQL_WAITING_SUPPLIERS = """
WITH late AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem, orders
  WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 45 DAY),
w AS (
  SELECT l1.l_orderkey, l1.l_suppkey FROM late l1
  WHERE EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM late l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey))
SELECT s_name, COUNT(*) AS numwait
FROM w, supplier WHERE s_suppkey = l_suppkey GROUP BY s_name
"""


def q_idle_customers(spark, sf):
    """TPC-H Q22 shape: positive-balance customers above the average
    balance with no orders, grouped by nation (scalar AVG subquery +
    anti join).

    Scale: the 1-row average is broadcast; the anti join shuffles on
    custkey. avg = exact decimal sum / exact count, one IEEE division;
    the comparison against double c_acctbal is then deterministic."""
    customer = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


SQL_IDLE_CUSTOMERS = """
SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# LLM training-data-pipeline operators
# ---------------------------------------------------------------------------


def q_train_test_split(spark, sf):
    """Deterministic hash split (train/val/test ≈ 90/5/5) by md5 of the
    document key — portable (md5 is engine-independent), stable under
    re-runs and re-partitioning, and skew-free (md5 is uniform).

    Scale: a narrow map — no shuffle, no sampling state; any executor
    assigns any row independently. Thresholds/salt are the shared
    constants in functions/splits.py (also consumed by the SQL-facade
    ``split_of`` UDF — one definition, no drift)."""
    from .functions.splits import SPLIT_SALT, TRAIN_UPPER_HEX, VAL_UPPER_HEX

    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(SPLIT_SALT)))
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.when(h < TRAIN_UPPER_HEX, "train")
        .when(h < VAL_UPPER_HEX, "val")
        .otherwise("test")
        .alias("split"),
    )


# thresholds/salt interpolated from functions/splits.py (the single
# definition) — a constant change there cannot silently desync the oracle
SQL_TRAIN_TEST_SPLIT = f"""
SELECT doc_id,
  CASE WHEN h < '{TRAIN_UPPER_HEX}' THEN 'train'
       WHEN h < '{VAL_UPPER_HEX}' THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '{SPLIT_SALT}') AS h
      FROM documents) t
"""


def q_stratified_sample(spark, sf):
    """Deterministic stratified sample: exactly ⌈20%⌉ of each language
    stratum, chosen by portable md5 order (not rand(), which is neither
    portable nor rerun-stable).

    Scale: one shuffle on the stratum key; within each stratum the
    window is a sort of that stratum only. For 100 TB with huge strata,
    swap the exact ⌈p·n⌉ for the pure-map hash-threshold form (see
    train_test_split) — this exact form is for when per-stratum counts
    must be exact."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#strat"))), F.col("doc_id")
    )
    wc = Window.partitionBy("lang")
    return (
        _t(spark, sf, "documents")
        .select(
            "lang",
            "doc_id",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n"),
        )
        .filter(F.col("rn") <= F.ceil(F.lit(0.2) * F.col("n")).cast("long"))
        .select("lang", "doc_id")
    )


SQL_STRATIFIED_SAMPLE = """
WITH r AS (SELECT lang, doc_id,
    ROW_NUMBER() OVER (PARTITION BY lang
        ORDER BY md5(CAST(doc_id AS VARCHAR) || '#strat'), doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT lang, doc_id FROM r WHERE rn <= CAST(ceil(0.2 * n) AS BIGINT)
"""


def q_decontaminate(spark, sf):
    """Test-set decontamination: for every training document, the count
    of word 3-grams it shares with the held-out set (source='src0') —
    the standard n-gram-overlap contamination check run before training.

    Scale: the eval shingle set is DISTINCT-reduced and (being the
    small held-out side) broadcastable; the train side streams through
    one shingle-explode + hash join + partial-agg — no doc×doc pairing
    ever materializes.

    Round-14 (optimization guide §2.4): ``source`` rides the split
    BEFORE the explode instead of being joined back onto the exploded
    shingle table — documents is keyed by doc_id, so filtering docs
    first is row-identical and drops two broadcast joins and two
    document scans from the plan. The final count is ``count(*)``, not
    ``countDistinct``: shingles are array_distinct'd per doc by
    construction (functions/expr.py word_shingles) and the eval side is
    DISTINCT, so the join emits each (doc_id, shingle) hit exactly once
    — the distinct-agg's extra exchange bought nothing."""
    docs = _t(spark, sf, "documents")
    ev = (
        neardup.shingle_table(docs.filter(F.col("source") == "src0"))
        .select(F.col("shingle").alias("ev_shingle"))
        .distinct()
    )
    return (
        neardup.shingle_table(docs.filter(F.col("source") != "src0"))
        .join(F.broadcast(ev), F.col("shingle") == F.col("ev_shingle"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )


SQL_DECONTAMINATE = r"""
WITH toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
              FROM documents),
sh AS (SELECT DISTINCT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0')
SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_contaminated
FROM sh s JOIN ev ON s.shingle = ev.shingle
WHERE s.source <> 'src0'
GROUP BY s.doc_id
"""


def q_fuzzy_decontaminate(spark, sf):
    """FUZZY test-set decontamination (operators/neardup.py
    fuzzy_decontaminate): MinHash-LSH candidates between the training
    split (source ≠ 'src0') and the held-out set (source = 'src0'),
    exact-Jaccard-verified at J ≥ 0.5 — flags paraphrase-level eval
    leaks the exact-overlap ``decontaminate`` entry only surfaces as
    raw counts. One best-match row per contaminated training doc.

    Everything is engine-portable (md5 minhash, integer rational
    threshold), so the oracle replays the FULL estimate-then-verify
    chain — banding recall included — in SQL."""
    docs = _t(spark, sf, "documents")
    return neardup.fuzzy_decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        threshold_pm=500,
    )


SQL_FUZZY_DECONTAMINATE = r"""
WITH toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
              FROM documents),
sh AS (SELECT DISTINCT doc_id, source,
              t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
sig AS (SELECT doc_id, source,
          min(md5(shingle || '#seed0')) AS mh0,
          min(md5(shingle || '#seed1')) AS mh1,
          min(md5(shingle || '#seed2')) AS mh2,
          min(md5(shingle || '#seed3')) AS mh3
        FROM sh GROUP BY doc_id, source),
bands AS (
  SELECT doc_id, source, '0' || '|' || mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, source, '1' || '|' || mh2 || '|' || mh3 AS band_key FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS eval_id
         FROM bands a JOIN bands b ON a.band_key = b.band_key
         WHERE a.source <> 'src0' AND b.source = 'src0'),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (SELECT c.doc_id, c.eval_id, COUNT(*) AS n_inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_id
          JOIN sh b ON b.doc_id = c.eval_id AND b.shingle = a.shingle
          GROUP BY c.doc_id, c.eval_id),
scored AS (
  SELECT i.doc_id, i.eval_id, i.n_inter,
         sa.n_sh + sb.n_sh - i.n_inter AS n_union
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_id
  JOIN sizes sb ON sb.doc_id = i.eval_id
  WHERE 1000 * i.n_inter >= 500 * (sa.n_sh + sb.n_sh - i.n_inter)),
ranked AS (
  SELECT *, (1000 * n_inter) // n_union AS jaccard_pm,
         ROW_NUMBER() OVER (PARTITION BY doc_id
           ORDER BY (1000 * n_inter) // n_union DESC, n_inter DESC,
                    n_union ASC, eval_id ASC) AS rn
  FROM scored)
SELECT doc_id, eval_id, n_inter, n_union, jaccard_pm
FROM ranked WHERE rn = 1
"""


def q_bm25_topk(spark, sf):
    """BM25 ranked retrieval (operators/text.py bm25_topk) for a fixed
    3-term query over the documents corpus — the lexical-retrieval
    baseline next to the embedding tier (cosine/LSH/IVF/PQ). Corpus
    statistics reduce in one all-integer aggregation and return as
    expression literals, so the oracle recomputes the identical ints
    in CTEs and replays every float operation in the same order —
    scores match to the rounded digit, ranks exactly."""
    from .operators.text import bm25_topk

    return bm25_topk(
        _t(spark, sf, "documents"), ["scan", "window", "merge"], k=10
    )


SQL_BM25_TOPK = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
prep AS (
  SELECT doc_id, len(t) AS l,
         len(list_filter(t, x -> x = 'scan'))   AS tf0,
         len(list_filter(t, x -> x = 'window')) AS tf1,
         len(list_filter(t, x -> x = 'merge'))  AS tf2
  FROM toks),
s AS (
  SELECT COUNT(*) AS n, SUM(l) AS sl,
         COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
         COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
         COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS df2
  FROM prep),
scored AS (
  SELECT doc_id, ROUND(
      ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1)
        * (CAST(tf0 AS DOUBLE) * (1.2 + 1))
        / (CAST(tf0 AS DOUBLE) + 1.2 * ((1 - 0.75) + 0.75 * (CAST(l AS DOUBLE) * s.n / s.sl)))
    + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1)
        * (CAST(tf1 AS DOUBLE) * (1.2 + 1))
        / (CAST(tf1 AS DOUBLE) + 1.2 * ((1 - 0.75) + 0.75 * (CAST(l AS DOUBLE) * s.n / s.sl)))
    + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1)
        * (CAST(tf2 AS DOUBLE) * (1.2 + 1))
        / (CAST(tf2 AS DOUBLE) + 1.2 * ((1 - 0.75) + 0.75 * (CAST(l AS DOUBLE) * s.n / s.sl)))
    , 6) AS score
  FROM prep, s),
ranked AS (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored WHERE score > 0)
SELECT doc_id, score FROM ranked WHERE rnk <= 10
"""


def q_pii_scrub(spark, sf):
    """PII-style scrubbing over the event property payloads: digit runs
    → '<NUM>' sentinel, plus a redaction count per record. Output is
    fingerprinted (md5) so the parity check carries the full scrubbed
    text without hauling 100 TB of strings through the comparator.

    Scale: pure narrow map, regex in JVM codegen; the same pattern
    applied to a real PII pass (emails, phones) is just more
    alternation in the (RE2/Java-portable) regex."""
    return _t(spark, sf, "events").select(
        "event_id",
        F.md5(F.regexp_replace("props", "[0-9]+", "<NUM>")).alias("scrub_fp"),
        F.size(F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), F.lit(0))).alias(
            "n_redacted"
        ),
    )


SQL_PII_SCRUB = """
SELECT event_id,
  md5(regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS scrub_fp,
  len(regexp_extract_all(props, '[0-9]+')) AS n_redacted
FROM events
"""


def q_repetition_stats(spark, sf):
    """Repetition / diversity quality signal: token count, distinct
    token count, type-token ratio, and a repetition flag per document
    (the Gopher-style 'mostly repeated content' filter input).

    Scale: narrow map over the documents scan; the token array is built
    once per row (bound expression), counts are exact ints, TTR is one
    IEEE division."""
    t = F.split(F.trim(F.col("text")), r"\s+")
    from .functions import bind

    def stats(tok):
        n = F.size(tok)
        d = F.size(F.array_distinct(tok))
        ttr = d.cast("double") / n
        return F.struct(
            n.alias("n_tokens"),
            d.alias("n_types"),
            ttr.alias("ttr"),
            (ttr < 0.3).alias("repetitive"),
        )

    s = bind(t, stats)
    return _t(spark, sf, "documents").select(
        "doc_id",
        s["n_tokens"].alias("n_tokens"),
        s["n_types"].alias("n_types"),
        s["ttr"].alias("ttr"),
        s["repetitive"].alias("repetitive"),
    )


SQL_REPETITION_STATS = r"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)
SELECT doc_id,
  CAST(len(t) AS INT) AS n_tokens,
  CAST(len(list_distinct(t)) AS INT) AS n_types,
  CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
  (CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) < 0.3 AS repetitive
FROM toks
"""


def q_length_histogram(spark, sf):
    """Power-of-two document-length histogram (corpus profiling before
    packing/batching). Bucket = bit-length of n_chars — integer-exact in
    both engines (binary-string length, no float log2 at boundaries)."""
    return (
        _t(spark, sf, "documents")
        .groupBy(
            F.length(F.conv(F.col("n_chars").cast("string"), 10, 2)).alias("log2_bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SQL_LENGTH_HISTOGRAM = """
SELECT CAST(length(printf('%b', n_chars)) AS INT) AS log2_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY log2_bucket
"""


def q_pack_sequences(spark, sf):
    """Concat-and-chunk sequence packing: documents are laid out in a
    deterministic pseudo-random order and cut into fixed 2048-token
    training sequences; each doc gets its sequence id and offset.

    Scale: a single global ordering would serialize the cumsum, so docs
    are first sharded by the leading hex char of their md5 (16 uniform
    shards; at 100 TB use 4 hex chars → 65k shards) and packed
    independently per shard — the window cumsum runs shard-parallel,
    and sequence ids are shard-qualified. Offsets use integer DIV/MOD,
    exact at any corpus size."""
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#pack")))
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    base = _t(spark, sf, "documents").select(
        "doc_id", h.alias("h"), F.substring(h, 1, 1).alias("shard"), n_tok.alias("n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_off")
    return base.select("doc_id", "shard", "n_tokens", off).select(
        "doc_id",
        "n_tokens",
        F.concat_ws("-", "shard", F.expr("tok_off DIV 2048").cast("string")).alias("seq_id"),
        F.expr("tok_off % 2048").alias("seq_offset"),
    )


SQL_PACK_SEQUENCES = r"""
WITH base AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '#pack') AS h,
         substr(md5(CAST(doc_id AS VARCHAR) || '#pack'), 1, 1) AS shard,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
  FROM documents),
packed AS (
  SELECT doc_id, shard, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_off
  FROM base)
SELECT doc_id, n_tokens,
  shard || '-' || CAST(tok_off // 2048 AS VARCHAR) AS seq_id,
  CAST(tok_off % 2048 AS BIGINT) AS seq_offset
FROM packed
"""


def q_source_mixture(spark, sf):
    """Weighted corpus-mixture sampling: each source gets a target
    sampling rate (25% for src0-src9, 75% for src10-src19) applied as a
    portable md5-threshold — deterministic, rerun-stable, and exact in
    expectation without any global coordination.

    Scale: pure narrow map (the per-source rate table would be a
    broadcast dim in the general case); no shuffle, no sampling state."""
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#mix")))
    light = F.col("source").isin(*[f"src{i}" for i in range(10)])
    thr = F.when(light, F.lit("40")).otherwise(F.lit("c0"))
    return (
        _t(spark, sf, "documents")
        .filter(h < thr)
        .select("doc_id", "source")
    )


SQL_SOURCE_MIXTURE = """
SELECT doc_id, source FROM documents
WHERE md5(CAST(doc_id AS VARCHAR) || '#mix') <
  CASE WHEN source IN ('src0','src1','src2','src3','src4',
                       'src5','src6','src7','src8','src9')
       THEN '40' ELSE 'c0' END
"""


def q_vocab_coverage(spark, sf):
    """Vocabulary construction stats: top-100 words by corpus frequency
    with cumulative coverage share — the curve that picks a vocab size.

    Scale: word counts are a map-side-partial groupBy over the exploded
    token stream; the top-100 is TakeOrderedAndProject; only the tiny
    top-k result flows through the (single-partition) cumulative
    window. Shares are IEEE divisions of exact counts."""
    toks = _t(spark, sf, "documents").select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    counts = toks.groupBy("word").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("tot"))
    top = (
        counts.orderBy(F.desc("n"), F.asc("word"))
        .limit(100)
        .join(F.broadcast(total))
    )
    w = Window.orderBy(F.desc("n"), F.asc("word")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return top.select(
        "word",
        "n",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("word"))).alias("rank"),
        (F.sum("n").over(w).cast("double") / F.col("tot")).alias("cum_share"),
    )


SQL_VOCAB_COVERAGE = r"""
WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
              FROM documents),
counts AS (SELECT word, COUNT(*) AS n FROM toks GROUP BY word),
top AS (SELECT word, n FROM counts ORDER BY n DESC, word LIMIT 100)
SELECT word, n,
  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS INT) AS rank,
  CAST(SUM(n) OVER (ORDER BY n DESC, word ROWS UNBOUNDED PRECEDING) AS DOUBLE)
    / (SELECT SUM(n) FROM counts) AS cum_share
FROM top
"""


def q_daily_activity_full_outer(spark, sf):
    """FULL OUTER JOIN shape: per-day order counts ⟗ per-day event
    counts — days with only orders, only events, or both all survive.

    Scale: both sides pre-aggregate to day granularity (map-side
    partial) before the join, so the full-outer shuffle moves day-rows,
    not raw facts."""
    orders = (
        _t(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count("*").alias("n_orders"))
    )
    events = (
        _t(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n_events"))
    )
    return (
        orders.join(events, "d", "full_outer")
        .select(
            F.col("d").cast("timestamp").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


SQL_DAILY_ACTIVITY_FULL_OUTER = """
WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
           FROM orders GROUP BY d),
e AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
      FROM events GROUP BY d)
SELECT CAST(COALESCE(o.d, e.d) AS TIMESTAMP) AS day,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(n_events, 0) AS n_events
FROM o FULL OUTER JOIN e ON o.d = e.d
"""


def q_region_nation_matrix(spark, sf):
    """Explicit CROSS JOIN shape: the region × order-status matrix with
    observed revenue per cell (zero-filled) — the dense-matrix scaffold
    pattern (cross join of two bounded dims + left join of facts).

    Scale: both cross sides are bounded dims (5×3 rows); the fact
    aggregation happens before the join against the scaffold."""
    region = _t(spark, sf, "region").select("r_name")
    status = _t(spark, sf, "orders").select("o_orderstatus").distinct()
    scaffold = region.crossJoin(status)
    observed = (
        _t(spark, sf, "orders")
        .join(_t(spark, sf, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(_t(spark, sf, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(_t(spark, sf, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "o_orderstatus")
        .agg(F.sum(_dec("o_totalprice")).cast("double").alias("revenue"))
    )
    return (
        scaffold.join(observed, ["r_name", "o_orderstatus"], "left")
        .select(
            "r_name",
            "o_orderstatus",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


SQL_REGION_NATION_MATRIX = """
WITH scaffold AS (
  SELECT r_name, o_orderstatus
  FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s),
observed AS (
  SELECT r_name, o_orderstatus,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
  FROM orders, customer, nation, region
  WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
    AND n_regionkey = r_regionkey
  GROUP BY r_name, o_orderstatus)
SELECT s.r_name, s.o_orderstatus, COALESCE(o.revenue, 0.0) AS revenue
FROM scaffold s LEFT JOIN observed o
  ON s.r_name = o.r_name AND s.o_orderstatus = o.o_orderstatus
"""


def q_returned_vs_kept_custkeys(spark, sf):
    """INTERSECT ALL / EXCEPT ALL shape (multiset semantics): per-order
    customer keys that placed both returned and non-returned orders,
    with multiplicity preserved."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    returned = (
        orders.join(
            li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct(),
            orders.o_orderkey == F.col("l_orderkey"),
            "left_semi",
        ).select("o_custkey")
    )
    kept = (
        orders.join(
            li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct(),
            orders.o_orderkey == F.col("l_orderkey"),
            "left_anti",
        ).select("o_custkey")
    )
    both = returned.intersectAll(kept).groupBy("o_custkey").agg(
        F.count("*").alias("n_both")
    )
    only_returned = returned.exceptAll(kept).groupBy("o_custkey").agg(
        F.count("*").alias("n_only")
    )
    return both.join(only_returned, "o_custkey", "full_outer").select(
        "o_custkey",
        F.coalesce("n_both", F.lit(0)).alias("n_both"),
        F.coalesce("n_only", F.lit(0)).alias("n_only"),
    )


SQL_RETURNED_VS_KEPT_CUSTKEYS = """
WITH ret AS (SELECT o_custkey FROM orders WHERE o_orderkey IN
               (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')),
kept AS (SELECT o_custkey FROM orders WHERE o_orderkey NOT IN
               (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')),
b AS (SELECT o_custkey, COUNT(*) AS n_both
      FROM (SELECT * FROM ret INTERSECT ALL SELECT * FROM kept) t GROUP BY o_custkey),
o AS (SELECT o_custkey, COUNT(*) AS n_only
      FROM (SELECT * FROM ret EXCEPT ALL SELECT * FROM kept) t GROUP BY o_custkey)
SELECT COALESCE(b.o_custkey, o.o_custkey) AS o_custkey,
       COALESCE(n_both, 0) AS n_both, COALESCE(n_only, 0) AS n_only
FROM b FULL OUTER JOIN o ON b.o_custkey = o.o_custkey
"""


def q_word_positions(spark, sf):
    """posexplode / UNNEST WITH ORDINALITY shape: token positions for
    the shortest documents (lateral-view flattening with ordinality)."""
    docs = _t(spark, sf, "documents").filter(F.col("n_chars") < 200)
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "word"),
    )


SQL_WORD_POSITIONS = r"""
SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[i] AS word
FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE n_chars < 200) d,
     UNNEST(range(1, len(t) + 1)) AS u(i)
"""


def q_scalar_function_showcase(spark, sf):
    """Deterministic scalar-function breadth over one table: math
    (abs/sqrt/power/sign), string (substr/lpad/reverse/translate/
    concat/upper), date (date_trunc/day-diff/extract), conditional
    (coalesce/nullif/greatest/least). Every function chosen for
    bit-identical cross-engine results (sqrt is IEEE-exact; no libm
    transcendentals, no engine-specific rounding).

    Scale: pure narrow map, whole-stage codegen, zero shuffles."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.abs(F.col("o_totalprice") - F.lit(1000.0)).alias("abs_delta"),
        F.sqrt(F.col("o_orderkey").cast("double")).alias("sqrt_key"),
        F.pow(F.col("o_orderkey") % 10, 2).alias("key_sq"),
        F.signum(F.col("o_totalprice") - F.lit(1000.0)).alias("price_sign"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse(F.col("o_orderstatus")).alias("rev_status"),
        F.translate("o_orderpriority", "-", "_").alias("prio_us"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.upper("o_orderstatus").alias("upper_status"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch"
        ),
        F.dayofweek("o_orderdate").alias("dow"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias(
            "status_or_open"
        ),
        F.greatest(F.col("o_totalprice"), F.lit(500.0)).alias("floored_price"),
        F.least(F.col("o_orderkey") % 7, F.col("o_orderkey") % 5).alias("least_mod"),
    )


SQL_SCALAR_FUNCTION_SHOWCASE = """
SELECT o_orderkey,
  abs(o_totalprice - 1000.0) AS abs_delta,
  sqrt(CAST(o_orderkey AS DOUBLE)) AS sqrt_key,
  power(o_orderkey % 10, 2) AS key_sq,
  CAST(sign(o_totalprice - 1000.0) AS DOUBLE) AS price_sign,
  substr(o_orderpriority, 1, 1) AS prio_code,
  lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded_key,
  reverse(o_orderstatus) AS rev_status,
  translate(o_orderpriority, '-', '_') AS prio_us,
  concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
  upper(o_orderstatus) AS upper_status,
  date_trunc('month', o_orderdate) AS month_start,
  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
    AS days_since_epoch,
  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
  COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
  greatest(o_totalprice, 500.0) AS floored_price,
  least(o_orderkey % 7, o_orderkey % 5) AS least_mod
FROM orders
"""


def q_embedding_norms(spark, sf):
    """Vector hygiene check: L2 norm per embedding + unit-norm flag
    (the pre-flight before cosine similarity assumes normalization).

    Parity note: the sum-of-squares is an explicitly *sequential* fold
    (Spark ``aggregate`` ≡ DuckDB ``list_reduce``), so both engines add
    the 64 squares in identical order — bit-identical IEEE results,
    which a SIMD/pairwise summation would not guarantee.

    Scale: pure narrow map over the embeddings scan; no shuffle."""
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return _t(spark, sf, "embeddings").select(
        "vec_id",
        F.sqrt(sq_sum).alias("l2_norm"),
        (F.abs(F.sqrt(sq_sum) - F.lit(1.0)) < F.lit(1e-5)).alias("is_unit"),
    )


SQL_EMBEDDING_NORMS = """
WITH n AS (SELECT vec_id,
  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   (a, b) -> a + b)) AS l2_norm
FROM embeddings)
SELECT vec_id, l2_norm, abs(l2_norm - 1.0) < 1e-5 AS is_unit FROM n
"""


def q_embedding_quantize(spark, sf):
    """Scalar int8 quantization of embeddings (the compression step
    before shipping vectors to an ANN index), with per-vector max
    reconstruction error. floor(x·127) is exact-deterministic (one
    double multiply + floor — no rounding-mode ambiguity).

    Scale: narrow map; the int8 payload is 4× smaller than float32 on
    the wire — this is the op that makes a 100 TB vector corpus fit the
    shuffle budget of a distributed index build."""
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * F.lit(127)).cast("int")
    )
    err = F.aggregate(
        F.zip_with(
            "embedding",
            q,
            lambda x, qi: F.abs(x.cast("double") - qi.cast("double") / F.lit(127.0)),
        ),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return _t(spark, sf, "embeddings").select(
        "vec_id",
        # serialized form: driver value-hashes scalar cells, not arrays
        F.concat_ws(",", q.cast("array<string>")).alias("q_int8"),
        err.alias("max_err"),
    )


SQL_EMBEDDING_QUANTIZE = """
SELECT vec_id,
  array_to_string(list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * 127) AS INT)), ',') AS q_int8,
  list_reduce(
    list_transform(embedding,
      x -> abs(CAST(x AS DOUBLE)
               - CAST(floor(CAST(x AS DOUBLE) * 127) AS DOUBLE) / 127.0)),
    (a, b) -> greatest(a, b)) AS max_err
FROM embeddings
"""


def q_dedup_clusters(spark, sf):
    """End-to-end near-dup pipeline: exact-Jaccard pairs (J ≥ 0.5) →
    connected components → canonical-doc election (min doc_id per
    cluster). The full dedup decision a training pipeline applies:
    ``is_keeper`` rows survive, the rest are dropped as duplicates.

    Scale: pair generation is the prefix-filtered inverted index;
    clustering is iterative min-label propagation whose round count is
    the dup-graph diameter (2-4 for dup clusters), each round one
    join + partial-agg groupBy. Nothing driver-side but the per-round
    convergence counter."""
    from .operators.dedup import connected_components

    pairs = neardup.jaccard_pairs(_t(spark, sf, "documents"), threshold=0.5)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


# Oracle: same Jaccard-pair CTE as SQL_JACCARD_PAIRS (duplicated rather
# than imported — queries.py imports this module, so importing back
# would cycle), then an undirected transitive closure via recursive CTE
# and min-reachable-label election.
SQL_DEDUP_CLUSTERS = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
reach(n, l) AS (
  SELECT d, d FROM (SELECT id_a AS d FROM pairs UNION SELECT id_b FROM pairs) t(d)
  UNION
  SELECT CASE WHEN r.n = p.id_a THEN p.id_b ELSE p.id_a END, r.l
  FROM reach r JOIN pairs p ON r.n = p.id_a OR r.n = p.id_b)
SELECT n AS doc_id, MIN(l) AS cluster, n = MIN(l) AS is_keeper
FROM reach GROUP BY n
"""


def q_curation_decision(spark, sf):
    """The end-to-end curation funnel: every quality/safety signal the
    pipeline computes, combined into one keep/drop decision per
    document with per-reason flags — what actually gets written as the
    training-set manifest.

    Drop reasons: too_short (<10 tokens), repetitive (TTR < 0.3),
    digit_heavy (>30% digits), contaminated (shares a 3-gram with the
    src0 held-out set), held_out (not in the train split).

    Scale: signals are narrow maps except contamination (broadcast
    semi join against the DISTINCT-reduced eval shingle set); one
    output row per doc, flags as booleans so downstream can audit
    *why* any doc was dropped."""
    docs = _t(spark, sf, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    from .functions import bind

    def signals(t):
        n = F.size(t)
        ttr = F.size(F.array_distinct(t)).cast("double") / n
        return F.struct((n < 10).alias("too_short"), (ttr < 0.3).alias("repetitive"))

    s = bind(toks, signals)
    digit_heavy = (
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
        / F.length("text")
    ) > 0.3
    from .functions.splits import SPLIT_SALT, TRAIN_UPPER_HEX

    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(SPLIT_SALT)))
    held_out = h >= TRAIN_UPPER_HEX

    sh = neardup.shingle_table(docs).join(docs.select("doc_id", "source"), "doc_id")
    ev = (
        sh.filter(F.col("source") == "src0")
        .select(F.col("shingle").alias("ev_shingle"))
        .distinct()
    )
    contaminated_ids = (
        sh.filter(F.col("source") != "src0")
        .join(F.broadcast(ev), F.col("shingle") == F.col("ev_shingle"), "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    flags = (
        docs.select(
            "doc_id",
            F.col("source"),
            s["too_short"].alias("too_short"),
            s["repetitive"].alias("repetitive"),
            digit_heavy.alias("digit_heavy"),
            held_out.alias("held_out"),
        )
        .join(contaminated_ids, "doc_id", "left")
        .withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
    )
    keep = ~(
        F.col("too_short")
        | F.col("repetitive")
        | F.col("digit_heavy")
        | F.col("contaminated")
        | F.col("held_out")
    )
    return flags.select(
        "doc_id", "too_short", "repetitive", "digit_heavy", "contaminated",
        "held_out", keep.alias("keep"),
    )


SQL_CURATION_DECISION = rf"""
WITH toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t,
                     text FROM documents),
sig AS (SELECT doc_id, source,
  len(t) < 10 AS too_short,
  (CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) < 0.3 AS repetitive,
  (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
     / length(text)) > 0.3 AS digit_heavy,
  md5(CAST(doc_id AS VARCHAR) || '{SPLIT_SALT}') >= '{TRAIN_UPPER_HEX}' AS held_out
FROM toks),
sh AS (SELECT DISTINCT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
cont AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle)
         WHERE s.source <> 'src0')
SELECT sig.doc_id, too_short, repetitive, digit_heavy,
  cont.doc_id IS NOT NULL AS contaminated, held_out,
  NOT (too_short OR repetitive OR digit_heavy
       OR cont.doc_id IS NOT NULL OR held_out) AS keep
FROM sig LEFT JOIN cont ON sig.doc_id = cont.doc_id
"""


def q_tfidf_topterms(spark, sf):
    """N4 text analysis: classic TF-IDF keyword extraction — top-3
    terms per document by tf·ln(N/df), ties broken on the term text.

    Scale: tf and df are both map-side-partial aggs over the exploded
    token stream (one shuffle each on skew-free keys); the corpus size
    joins in as a broadcast scalar, never a driver collect. Ranking is
    a per-doc window over the already-aggregated (doc, term) rows —
    cardinality ≤ distinct terms per doc, not corpus tokens. The rank
    runs on the UNROUNDED score (both engines see mathematically
    identical tf·ln(N/df) inputs); only the emitted score is rounded.
    """
    docs = _t(spark, sf, "documents")
    from .operators.text import tokens

    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n_corpus"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.col("tf") * F.log(F.col("n_corpus") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.round("score", 6).alias("tfidf"), "rk")
    )


SQL_TFIDF_TOPTERMS = r"""
WITH toks AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term
              FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_corpus FROM documents),
scored AS (SELECT t.doc_id, t.term, t.tf * ln(n.n_corpus / d.df) AS score
           FROM tf t JOIN df d USING (term) CROSS JOIN n),
rk AS (SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
       FROM scored)
SELECT doc_id, term, ROUND(score, 6) AS tfidf, rk FROM rk WHERE rk <= 3
"""


def q_corr_stats(spark, sf):
    """Statistical aggregate family over lineitem: Pearson correlation,
    sample stddev/variance, and the least-squares fit of price on
    quantity (slope / intercept / R²).

    Scale: one map-side-partial aggregation — every one of these is an
    algebraic aggregate (sum/count/moment merges), so the plan is a
    single scan + single reduce regardless of row count. Outputs are
    scale-free or near-unit magnitude, rounded at 6 dp, far above the
    ~1e-12 relative accumulation-order noise between engines.
    """
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.stddev_samp("l_discount"), 6).alias("std_discount"),
        F.round(F.var_samp("l_tax"), 6).alias("var_tax"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("fit_slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("fit_intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("fit_r2"),
    )


SQL_CORR_STATS = """
SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(stddev_samp(l_discount), 6) AS std_discount,
       ROUND(var_samp(l_tax), 6) AS var_tax,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS fit_slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS fit_intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS fit_r2
FROM lineitem
"""


def q_incremental_dedup(spark, sf):
    """Incremental near-dedup: screen a NEW document batch against the
    EXISTING corpus via MinHash-LSH band collisions — the steady-state
    shape of a production dedup pipeline (daily crawl vs. trained-on
    corpus), as opposed to the one-shot all-pairs jobs. Batch = doc_id
    ≡ 0 (mod 10), corpus = the rest; output = distinct (new_id,
    existing_id) collision pairs.

    Scale: in production the corpus side is the AT-REST signature index
    (``minhash_band_keys`` written once, partitioned by band-key prefix
    — see queries_ops' LSH-at-rest pattern); only the small batch is
    signed per run, and the join prunes corpus partitions by the
    batch's band keys. Here both sides derive from one signature pass
    over one table (the oracle must see one deterministic dataset); the
    join itself — small side broadcast by AQE, collision-proportional
    output — is the production plan."""
    # bands feed BOTH join sides; the r14 fused signature is a pure map
    # with no exchange to reuse, so materialize once instead of
    # re-signing the corpus per side
    bands = materialize(
        neardup.minhash_band_keys(
            neardup.minhash_signatures(_t(spark, sf, "documents"))
        )
    )
    newb = bands.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("new_id"), "band_key"
    )
    oldb = bands.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("existing_id"), "band_key"
    )
    return newb.join(oldb, "band_key").select("new_id", "existing_id").distinct()


SQL_INCREMENTAL_DEDUP = r"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
sh AS (SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [] END AS shingles
       FROM toks),
sig AS (SELECT doc_id,
  list_min(list_transform(shingles, s -> md5(s || '#seed0'))) AS mh0,
  list_min(list_transform(shingles, s -> md5(s || '#seed1'))) AS mh1,
  list_min(list_transform(shingles, s -> md5(s || '#seed2'))) AS mh2,
  list_min(list_transform(shingles, s -> md5(s || '#seed3'))) AS mh3
FROM sh),
bands AS (
  SELECT doc_id, '0' || '|' || mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, '1' || '|' || mh2 || '|' || mh3 AS band_key FROM sig)
SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS existing_id
FROM bands a JOIN bands b ON a.band_key = b.band_key
WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
"""


def q_minhash_jaccard_est(spark, sf):
    """Estimate-then-verify stage 1: signature-only Jaccard estimates
    for LSH band candidates — est = (#equal minhashes)/num_hashes, an
    exact small-integer ratio. At 100 TB this ranks/filters candidate
    pairs using only the 4-hash signatures (narrow rows, no text),
    reserving exact shingle-set verification (``jaccard_pairs``) for
    survivors.

    Scale: the candidate join is the band inverted index (collision-
    proportional); signatures join back by unique doc_id — AQE picks
    broadcast vs shuffle by actual size. No text column ever moves.

    The signature table is consumed FOUR times (two band sides, two
    join-back sides); with the r14 fused map-only signature there is no
    aggregate exchange for Spark to reuse across them, so materialize
    it once (measured at 100×: 31.9 s un-materialized vs 17.2 s for the
    old exchange-reusing form; materialized, the fused form wins)."""
    sig = materialize(neardup.minhash_signatures(_t(spark, sf, "documents")))
    bands = neardup.minhash_band_keys(sig)
    a = bands.select(F.col("doc_id").alias("id_a"), "band_key")
    b = bands.select(F.col("doc_id").alias("id_b"), "band_key")
    cand = (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(4)])
    sb = sig.select(F.col("doc_id").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(4)])
    n_eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(4)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (n_eq.cast("long") * F.lit(25) / F.lit(100)).alias("jaccard_est"),
        )
    )


SQL_MINHASH_JACCARD_EST = r"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
sh AS (SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [] END AS shingles
       FROM toks),
sig AS (SELECT doc_id,
  list_min(list_transform(shingles, s -> md5(s || '#seed0'))) AS mh0,
  list_min(list_transform(shingles, s -> md5(s || '#seed1'))) AS mh1,
  list_min(list_transform(shingles, s -> md5(s || '#seed2'))) AS mh2,
  list_min(list_transform(shingles, s -> md5(s || '#seed3'))) AS mh3
FROM sh),
bands AS (
  SELECT doc_id, '0' || '|' || mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, '1' || '|' || mh2 || '|' || mh3 AS band_key FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT id_a, id_b,
  CAST((CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END
      + CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END
      + CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END
      + CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END) AS BIGINT) * 25 / 100.0
    AS jaccard_est
FROM cand
JOIN sig sa ON sa.doc_id = id_a
JOIN sig sb ON sb.doc_id = id_b
"""


def q_near_dedup_keep(spark, sf):
    """The dedup pipeline's end product: the SURVIVING corpus after
    near-dup removal. Policy: drop every document that MinHash-band-
    collides with a lower-id document (greedy keep-lowest — one
    deterministic pass, no iteration; the connected-components variant
    is ``dedup_clusters``). Output: the kept documents' ids + metadata.

    Scale: the collision pair list is collision-proportional (band
    inverted index); the removal is one ANTI join of the corpus against
    the distinct higher-id side — no text moves, no driver state."""
    pairs = neardup.minhash_band_pairs(_t(spark, sf, "documents"))
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        _t(spark, sf, "documents")
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


SQL_NEAR_DEDUP_KEEP = r"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
sh AS (SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [] END AS shingles
       FROM toks),
sig AS (SELECT doc_id,
  list_min(list_transform(shingles, s -> md5(s || '#seed0'))) AS mh0,
  list_min(list_transform(shingles, s -> md5(s || '#seed1'))) AS mh1,
  list_min(list_transform(shingles, s -> md5(s || '#seed2'))) AS mh2,
  list_min(list_transform(shingles, s -> md5(s || '#seed3'))) AS mh3
FROM sh),
bands AS (
  SELECT doc_id, '0' || '|' || mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, '1' || '|' || mh2 || '|' || mh3 AS band_key FROM sig),
drop_ids AS (
  SELECT DISTINCT b.doc_id
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT doc_id, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)
"""


def q_global_shuffle(spark, sf):
    """Deterministic global training-order shuffle: every document gets
    a dense 1-based position in md5(doc_id ⊕ salt) order — rerun-stable,
    engine-portable, and exactly the order a data loader would stream.

    Scale: a naive ROW_NUMBER() OVER (ORDER BY h) collapses the corpus
    into ONE sort partition. Instead, rank in two phases: the leading
    hex char of the hash is its own most-significant digit, so global
    (h, doc_id) order = (shard, within-shard order). Rank within each of
    the 16 shards in parallel, then add broadcast per-shard offsets
    (cumulative counts over a 16-row table). At 100 TB widen the shard
    prefix (2 hex chars → 256 shards, 4 → 65k)."""
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#gshuf")))
    base = _t(spark, sf, "documents").select(
        "doc_id", h.alias("h"), F.substring(h, 1, 1).alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    ranked = base.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("r")
    )
    sizes = base.groupBy("shard").agg(F.count("*").alias("n"))
    wsum = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "shard", F.coalesce(F.sum("n").over(wsum), F.lit(0)).alias("off")
    )
    return (
        ranked.join(F.broadcast(offsets), "shard")
        .select("doc_id", (F.col("r") + F.col("off")).alias("shuffle_pos"))
    )


SQL_GLOBAL_SHUFFLE = """
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (
    ORDER BY md5(CAST(doc_id AS VARCHAR) || '#gshuf'), doc_id) AS BIGINT)
  AS shuffle_pos
FROM documents
"""


def q_html_strip(spark, sf):
    """HTML → visible-text extraction (operators/text.py strip_html):
    each document is wrapped in a deterministic page shell (style block,
    headings, a script with a stray '<', comment, entities) and the
    operator must recover exactly the visible text; the oracle replays
    the same shell and the same RE2-safe strip in SQL."""
    from .operators.text import strip_html

    d = _t(spark, sf, "documents")
    page = F.concat(
        F.lit(
            '<html><head><style>p { color: red; }</style></head>'
            '<body><h1>Doc</h1><p class="main">'
        ),
        F.col("text"),
        F.lit(
            '</p><p>Q&amp;A &lt;raw&gt;</p>'
            '<script type="text/javascript">var x = 1 < 2;</script>'
            "<!-- hidden --></body></html>"
        ),
    )
    return d.select(
        "doc_id",
        strip_html(page).alias("clean"),
    ).withColumn("clean_chars", F.length("clean").cast("long"))


SQL_HTML_STRIP = r"""
WITH page AS (
  SELECT doc_id,
         '<html><head><style>p { color: red; }</style></head><body><h1>Doc</h1><p class="main">'
         || text ||
         '</p><p>Q&amp;A &lt;raw&gt;</p><script type="text/javascript">var x = 1 < 2;</script><!-- hidden --></body></html>'
         AS h
  FROM documents
), s AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(h, '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
           '<[^>]+>', ' ', 'g') AS t
  FROM page
), e AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(t,
           '&nbsp;', ' '),
           '&lt;', '<'),
           '&gt;', '>'),
           '&quot;', '"'),
           '&#39;', ''''),
           '&amp;', '&') AS t
  FROM s
)
SELECT doc_id,
       trim(regexp_replace(t, '[ ' || chr(9) || chr(10) || chr(13) || chr(12) || ']+', ' ', 'g')) AS clean,
       CAST(length(trim(regexp_replace(t, '[ ' || chr(9) || chr(10) || chr(13) || chr(12) || ']+', ' ', 'g'))) AS BIGINT) AS clean_chars
FROM e
"""


def q_unicode_nfc(spark, sf):
    """Unicode NFC canonicalization (operators/text.py normalize_nfc,
    the Arrow-batched pandas-UDF tier): every document gets a
    deterministic decomposed suffix (e + combining acute, A + ring)
    that NFC must compose; output proves composition happened
    (char length shrinks) and matches DuckDB's utf8proc replay."""
    from .operators.text import normalize_nfc

    d = _t(spark, sf, "documents")
    raw = F.concat(F.col("text"), F.lit(" café Å"))
    return d.select(
        "doc_id",
        normalize_nfc(raw).alias("norm"),
        F.length(raw).cast("long").alias("raw_chars"),
    ).withColumn("norm_chars", F.length("norm").cast("long"))


SQL_UNICODE_NFC = """
WITH r AS (
  SELECT doc_id, text || ' cafe' || chr(769) || ' A' || chr(778) AS raw
  FROM documents
)
SELECT doc_id,
       nfc_normalize(raw) AS norm,
       CAST(length(raw) AS BIGINT) AS raw_chars,
       CAST(length(nfc_normalize(raw)) AS BIGINT) AS norm_chars
FROM r
"""


def q_url_parts(spark, sf):
    """URL decomposition for domain blocklists / per-site quotas
    (operators/text.py url_parts): deterministic per-doc URLs are split
    into scheme/host/domain/path/query-param with portable regexes the
    oracle runs verbatim."""
    from .operators.text import url_parts

    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://sub"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".com/p/"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        F.col("lang"),
        F.lit("&r=1#frag"),
    )
    p = url_parts(url)
    return d.select(
        "doc_id",
        p["scheme"].alias("scheme"),
        p["host"].alias("host"),
        p["domain"].alias("domain"),
        p["path"].alias("path"),
        p["q"].alias("q"),
    )


SQL_URL_PARTS = r"""
WITH u AS (
  SELECT doc_id,
         'https://sub' || CAST(doc_id % 5 AS VARCHAR) || '.example' ||
         CAST(doc_id % 3 AS VARCHAR) || '.com/p/' || CAST(doc_id AS VARCHAR) ||
         '?q=' || lang || '&r=1#frag' AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
       regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
       regexp_extract(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                      '([^./]+\.[^./]+)$', 1) AS domain,
       regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path,
       regexp_extract(url, '[?&]q=([^&#]*)', 1) AS q
FROM u
"""


def q_chunk_documents(spark, sf):
    """Overlapping token-window chunking (window 40, stride 30) — the
    retrieval/context-packing splitter. Pure array algebra: one
    tokenize, one sequence-of-offsets transform, one explode; no
    Python, no shuffle before the explode. Every token appears in
    ≥1 chunk (tail chunks shorter than the window are kept)."""
    from .operators.text import tokens

    w, s = 40, 30
    d = _t(spark, sf, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)
    # chunk starts: 0, s, 2s, … while start < n  (ceil(n/s) of them)
    starts = F.sequence(F.lit(0), F.ceil(n / F.lit(s)).cast("int") - 1)
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("idx"),
            F.slice(t, i * s + 1, w).alias("toks"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .filter(F.size("c.toks") > 0)
        .select(
            "doc_id",
            F.col("c.idx").cast("long").alias("chunk_idx"),
            F.array_join("c.toks", " ").alias("chunk_text"),
            F.size("c.toks").cast("long").alias("n_tokens"),
        )
    )


SQL_CHUNK_DOCUMENTS = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
), st AS (
  SELECT doc_id, t, unnest(range(0, CAST(ceil(len(t) / 30.0) AS BIGINT))) AS i
  FROM toks
)
SELECT doc_id,
       i AS chunk_idx,
       array_to_string(t[i*30 + 1 : i*30 + 40], ' ') AS chunk_text,
       CAST(len(t[i*30 + 1 : i*30 + 40]) AS BIGINT) AS n_tokens
FROM st
WHERE len(t[i*30 + 1 : i*30 + 40]) > 0
"""


def q_gapfill_locf(spark, sf):
    """Hypertable-style gap-fill: per-user DAILY series over the full
    corpus span with last-observation-carried-forward. Daily downsample
    picks the latest event per (user, day) with a deterministic
    (ts, event_id) tiebreak; the date spine is users × sequence(days);
    LOCF is last(ignorenulls) over a user-partitioned window — the
    partition key is the high-cardinality user id, so the window
    parallelizes (never a global sort)."""
    e = _t(spark, sf, "events")
    daily = (
        e.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
        .select("user_id", "day", F.col("m.value").alias("v"))
    )
    span = e.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    ).first()
    if span["lo"] is None:  # empty corpus: no span, no spine
        return spark.createDataFrame(
            [],
            "user_id bigint, day timestamp, value_filled double, is_observed boolean",
        )
    days = F.explode(
        F.sequence(F.lit(span["lo"]), F.lit(span["hi"]), F.expr("interval 1 day"))
    ).alias("day")
    spine = e.select("user_id").distinct().select("user_id", days)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            # date → timestamp for driver dtype parity (registry-wide
            # convention; see daily_activity_full_outer)
            F.col("day").cast("timestamp").alias("day"),
            F.last("v", ignorenulls=True).over(w).alias("value_filled"),
            F.col("v").isNotNull().alias("is_observed"),
        )
    )


SQL_GAPFILL_LOCF = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, value AS v,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), d1 AS (
  SELECT user_id, day, v FROM daily WHERE rn = 1
), span AS (
  SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi FROM events
), spine AS (
  SELECT u.user_id,
         CAST(unnest(generate_series(s.lo, s.hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM events) u, span s
)
SELECT s.user_id, s.day,
       LAST_VALUE(d1.v IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       d1.v IS NOT NULL AS is_observed
FROM spine s LEFT JOIN d1 ON d1.user_id = s.user_id AND d1.day = s.day
"""


def q_cohort_retention(spark, sf):
    """Weekly cohort-retention matrix: users cohorted by first-activity
    week, counted once per (cohort, week-offset) they return in. Two
    narrow aggregations + one broadcast-sized self join; all integer
    counts, exactly replayable."""
    e = _t(spark, sf, "events")
    wk = (F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))) / 7).cast("int")
    activity = e.select("user_id", wk.alias("week")).distinct()
    first = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


SQL_COHORT_RETENTION = """
WITH activity AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0)
              AS INTEGER) AS week
  FROM events
), first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM activity GROUP BY user_id
)
SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN first f ON a.user_id = f.user_id
GROUP BY f.cohort_week, a.week - f.cohort_week
"""


def q_ohlc_daily(spark, sf):
    """Time-series downsampling to daily OHLC bars per event type — the
    classic resample shape (finance candlesticks, telemetry rollups).
    open/close are SELECTION, not arithmetic: min_by/max_by under a
    (ts, event_id) struct ordering — lexicographic struct comparison
    gives a deterministic first/last row even on timestamp ties, and
    the values are stored doubles copied verbatim, so the result is
    hash-exact against the oracle's window formulation."""
    e = _t(spark, sf, "events")
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(F.col("event_type"), F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.min_by("value", ord_).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_).alias("close"),
            F.count("*").alias("n"),
        )
    )


SQL_OHLC_DAILY = """
WITH r AS (
  SELECT event_type, date_trunc('day', ts) AS day, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM events
)
SELECT event_type, day,
       MAX(CASE WHEN ra = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rd = 1 THEN value END) AS close,
       COUNT(*) AS n
FROM r GROUP BY event_type, day
"""


def q_winsorize_events(spark, sf):
    """Per-group winsorization — the standard pre-training outlier
    clip: values clamp to the group\'s exact discrete [p5, p95]
    thresholds. All arithmetic is integer cents; the thresholds are
    DISCRETE rank statistics (smallest value whose cumulative count
    reaches ⌈p·n⌉) computed with the aggregate-then-rank shape from
    price_quantiles_exact — the fact table compresses to
    (group, cents) counts before any window, so the sort input is
    distinct values, not rows, and parallelism never collapses to the
    group count. Thresholds broadcast back; one more narrow groupBy
    emits per-group totals and clip counts."""
    from pyspark.sql import Window

    e = (
        _t(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    counts = e.groupBy("event_type", "cents").agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        "cents",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    thr = cum.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(0.05) * F.col("n")).cast("long"),
                F.col("cents"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(0.95) * F.col("n")).cast("long"),
                F.col("cents"),
            )
        ).alias("hi"),
    )
    j = e.join(F.broadcast(thr), "event_type")
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents")))
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(clipped).cast("long").alias("clipped_cents"),
        F.sum(F.when(F.col("cents") < F.col("lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_low"),
        F.sum(F.when(F.col("cents") > F.col("hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_high"),
    )


SQL_WINSORIZE_EVENTS = """
WITH c AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         COUNT(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY event_type, cents
), cum AS (
  SELECT event_type, cents,
         SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM c
), thr AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= CAST(CEIL(0.05 * n) AS BIGINT) THEN cents END) AS lo,
         MIN(CASE WHEN cum >= CAST(CEIL(0.95 * n) AS BIGINT) THEN cents END) AS hi
  FROM cum GROUP BY event_type
), ec AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
)
SELECT ec.event_type, COUNT(*) AS n,
       CAST(SUM(GREATEST(t.lo, LEAST(t.hi, ec.cents))) AS BIGINT) AS clipped_cents,
       CAST(SUM(CASE WHEN ec.cents < t.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN ec.cents > t.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM ec JOIN thr t USING (event_type)
GROUP BY ec.event_type
"""


def _c4_page():
    """Deterministic line/sentence structure for the newline-free
    driver corpus (the url_parts convention: synthesize portably, run
    the REAL operator): ' merge' → sentence break + newline, ' scan' →
    the word 'javascript' (C4's boilerplate-line marker), plus page-
    level 'lorem ipsum' / '{' injections on doc_id residues so every
    drop rule provably fires."""
    page = F.replace(
        F.replace(F.col("text"), F.lit(" merge"), F.lit(".\n")),
        F.lit(" scan"),
        F.lit(" javascript"),
    )
    return F.concat(
        page,
        F.when(F.col("doc_id") % 7 == 0, F.lit("\nlorem ipsum tail line."))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("\ncode { brace line."))
        .otherwise(F.lit("")),
    )


def q_c4_filters(spark, sf):
    """The C4 ruleset (Raffel et al. 2020 §2.2) over the corpus
    (operators/text.py c4_rules): line-level cleaning (terminal
    punctuation, ≥3 words, no 'javascript') and page-level drops
    ('lorem ipsum', '{', ≥min_sentences after cleaning). The oracle
    replays the IDENTICAL lambda with DuckDB's list_filter — including
    clean_text, so the kept-line ORDER is hash-locked, not just the
    counts. min_sentences=2 fits the corpus's short documents; the
    production default is C4's 5."""
    from .operators.text import c4_rules

    d = _t(spark, sf, "documents").select("doc_id", _c4_page().alias("text"))
    return c4_rules(d, min_sentences=2)


SQL_C4_FILTERS = r"""
WITH d AS (
  SELECT doc_id,
         replace(replace(text, ' merge', '.' || chr(10)), ' scan', ' javascript')
         || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum tail line.' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'code { brace line.' ELSE '' END
         AS page
  FROM documents
),
k AS (
  SELECT doc_id, page,
         string_split(page, chr(10)) AS lines,
         list_filter(string_split(page, chr(10)), l ->
           right(l, 1) IN ('.', '!', '?', '"')
           AND len(string_split_regex(trim(l), '\s+')) >= 3
           AND NOT contains(lower(l), 'javascript')) AS kept
  FROM d
),
c AS (
  -- array_to_string([]) is NULL in DuckDB, '' in Spark's array_join
  SELECT *, COALESCE(array_to_string(kept, chr(10)), '') AS ct FROM k
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       CAST((length(ct) - length(replace(ct, '.', '')))
          + (length(ct) - length(replace(ct, '!', '')))
          + (length(ct) - length(replace(ct, '?', ''))) AS BIGINT) AS n_sentences,
       ct AS clean_text,
       NOT contains(lower(page), 'lorem ipsum') AS no_lorem_ipsum,
       NOT contains(page, '{') AS no_curly_brace,
       (length(ct) - length(replace(ct, '.', '')))
         + (length(ct) - length(replace(ct, '!', '')))
         + (length(ct) - length(replace(ct, '?', ''))) >= 2 AS min_sentences_ok,
       NOT contains(lower(page), 'lorem ipsum') AND NOT contains(page, '{')
         AND (length(ct) - length(replace(ct, '.', '')))
           + (length(ct) - length(replace(ct, '!', '')))
           + (length(ct) - length(replace(ct, '?', ''))) >= 2 AS c4_pass
FROM c
"""


def q_domain_cap_sample(spark, sf):
    """Per-domain cap (operators/sampling.py cap_per_group): at most 8
    documents per registered domain, chosen by portable md5 order —
    the C4/Common-Crawl "max N pages per site" rule that stops one hot
    domain from dominating a training mix. Domains are synthesized
    deterministically (url_parts convention). The plan's
    WindowGroupLimit bounds the per-group sort map-side, so a hot
    domain never concentrates past the cap on one task."""
    from .operators.sampling import cap_per_group

    d = _t(spark, sf, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.concat(
            F.lit("example"), (F.col("doc_id") % 5).cast("string"), F.lit(".com")
        ).alias("domain"),
    )
    return cap_per_group(d, "domain", 8, "doc_id").select(
        "doc_id", "domain", "source", "n_chars"
    )


SQL_DOMAIN_CAP_SAMPLE = """
WITH d AS (
  SELECT doc_id, source, n_chars,
         'example' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain
  FROM documents
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY domain
    ORDER BY md5(CAST(doc_id AS VARCHAR) || '#cap'), doc_id) AS rn
  FROM d
)
SELECT doc_id, domain, source, n_chars FROM r WHERE rn <= 8
"""


def q_domain_group_split(spark, sf):
    """Leakage-safe split (operators/sampling.py group_split): the
    train/val/test assignment is a function of the DOMAIN, so every
    document from one site lands on the same side — near-duplicates
    within a site can never straddle train and test (the classic eval
    leak a row-level split permits). Same md5-prefix thresholds as
    train_test_split (functions/splits.py — one definition, no
    drift); a pure map, no shuffle."""
    from .operators.sampling import group_split

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("example"), (F.col("doc_id") % 97).cast("string"), F.lit(".com")
        ).alias("domain"),
    )
    return group_split(d, "domain")


# thresholds/salt interpolated from functions/splits.py, same as
# SQL_TRAIN_TEST_SPLIT — one definition for the split convention
SQL_DOMAIN_GROUP_SPLIT = f"""
SELECT doc_id, domain,
  CASE WHEN h < '{TRAIN_UPPER_HEX}' THEN 'train'
       WHEN h < '{VAL_UPPER_HEX}' THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         'example' || CAST(doc_id % 97 AS VARCHAR) || '.com' AS domain,
         md5('example' || CAST(doc_id % 97 AS VARCHAR) || '.com'
             || '{SPLIT_SALT}') AS h
  FROM documents
) t
"""


def q_mixture_plan(spark, sf):
    """The pretraining data-mixing PLAN (operators/sampling.py
    mixture_plan — the Pile/Dolma mixing-table step): per-source token
    inventory joined to per-mille target weights, yielding
    target_tokens / sampling rate_pm / epoch count / upsample flag,
    all integer-exact. src0–src4 are weighted 100‰ of a 1M-token
    budget (upsampled: each holds far fewer), src5–src17 25‰, and
    src18/src19 are deliberately ABSENT from the weights — the plan
    emits explicit zero rows for them (exclusions are documented, not
    silently dropped)."""
    from .operators.sampling import mixture_plan

    weights = {f"src{i}": 100 for i in range(5)}
    weights.update({f"src{i}": 25 for i in range(5, 18)})
    return mixture_plan(
        _t(spark, sf, "documents"), weights, budget_tokens=1_000_000
    )


SQL_MIXTURE_PLAN = r"""
WITH t AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs, n_tokens,
         CAST(CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 100
                   WHEN source IN ('src5','src6','src7','src8','src9','src10',
                                   'src11','src12','src13','src14','src15',
                                   'src16','src17') THEN 25
                   ELSE 0 END AS BIGINT) AS weight_pm
  FROM t
),
p AS (SELECT *, 1000000 * weight_pm // 1000 AS tgt FROM w)
SELECT source, n_docs, n_tokens, weight_pm,
       CAST(tgt AS BIGINT) AS target_tokens,
       CAST(1000 * tgt // n_tokens AS BIGINT) AS rate_pm,
       CAST((tgt + n_tokens - 1) // n_tokens AS BIGINT) AS epochs,
       tgt > n_tokens AS upsample
FROM p
"""


EXT_REGISTRY = {
    "c4_filters": (q_c4_filters, SQL_C4_FILTERS),
    "mixture_plan": (q_mixture_plan, SQL_MIXTURE_PLAN),
    "domain_cap_sample": (q_domain_cap_sample, SQL_DOMAIN_CAP_SAMPLE),
    "domain_group_split": (q_domain_group_split, SQL_DOMAIN_GROUP_SPLIT),
    "html_strip": (q_html_strip, SQL_HTML_STRIP),
    "gapfill_locf": (q_gapfill_locf, SQL_GAPFILL_LOCF),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "chunk_documents": (q_chunk_documents, SQL_CHUNK_DOCUMENTS),
    "unicode_nfc": (q_unicode_nfc, SQL_UNICODE_NFC),
    "url_parts": (q_url_parts, SQL_URL_PARTS),
    # remaining TPC-H query shapes
    "min_cost_supplier": (q_min_cost_supplier, SQL_MIN_COST_SUPPLIER),
    "priority_exists_orders": (q_priority_exists_orders, SQL_PRIORITY_EXISTS_ORDERS),
    "market_share": (q_market_share, SQL_MARKET_SHARE),
    "product_profit": (q_product_profit, SQL_PRODUCT_PROFIT),
    "important_parts": (q_important_parts, SQL_IMPORTANT_PARTS),
    "priority_line_counts": (q_priority_line_counts, SQL_PRIORITY_LINE_COUNTS),
    "cust_order_distribution": (q_cust_order_distribution, SQL_CUST_ORDER_DISTRIBUTION),
    "top_revenue_supplier": (q_top_revenue_supplier, SQL_TOP_REVENUE_SUPPLIER),
    "supplier_part_counts": (q_supplier_part_counts, SQL_SUPPLIER_PART_COUNTS),
    "small_qty_revenue": (q_small_qty_revenue, SQL_SMALL_QTY_REVENUE),
    "large_orders": (q_large_orders, SQL_LARGE_ORDERS),
    "excess_supply": (q_excess_supply, SQL_EXCESS_SUPPLY),
    "waiting_suppliers": (q_waiting_suppliers, SQL_WAITING_SUPPLIERS),
    "idle_customers": (q_idle_customers, SQL_IDLE_CUSTOMERS),
    # LLM training-data-pipeline ops
    "train_test_split": (q_train_test_split, SQL_TRAIN_TEST_SPLIT),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "fuzzy_decontaminate": (q_fuzzy_decontaminate, SQL_FUZZY_DECONTAMINATE),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "repetition_stats": (q_repetition_stats, SQL_REPETITION_STATS),
    "length_histogram": (q_length_histogram, SQL_LENGTH_HISTOGRAM),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "source_mixture": (q_source_mixture, SQL_SOURCE_MIXTURE),
    "vocab_coverage": (q_vocab_coverage, SQL_VOCAB_COVERAGE),
    "tfidf_topterms": (q_tfidf_topterms, SQL_TFIDF_TOPTERMS),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "corr_stats": (q_corr_stats, SQL_CORR_STATS),
    # join/set-op/function breadth
    "daily_activity_full_outer": (q_daily_activity_full_outer, SQL_DAILY_ACTIVITY_FULL_OUTER),
    "region_nation_matrix": (q_region_nation_matrix, SQL_REGION_NATION_MATRIX),
    "returned_vs_kept_custkeys": (q_returned_vs_kept_custkeys, SQL_RETURNED_VS_KEPT_CUSTKEYS),
    "word_positions": (q_word_positions, SQL_WORD_POSITIONS),
    "scalar_function_showcase": (q_scalar_function_showcase, SQL_SCALAR_FUNCTION_SHOWCASE),
    # vector ops
    "embedding_norms": (q_embedding_norms, SQL_EMBEDDING_NORMS),
    "embedding_quantize": (q_embedding_quantize, SQL_EMBEDDING_QUANTIZE),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "curation_decision": (q_curation_decision, SQL_CURATION_DECISION),
    # incremental / estimate-first dedup and training-order ops
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "minhash_jaccard_est": (q_minhash_jaccard_est, SQL_MINHASH_JACCARD_EST),
    "global_shuffle": (q_global_shuffle, SQL_GLOBAL_SHUFFLE),
    "near_dedup_keep": (q_near_dedup_keep, SQL_NEAR_DEDUP_KEEP),
    "ohlc_daily": (q_ohlc_daily, SQL_OHLC_DAILY),
    "winsorize_events": (q_winsorize_events, SQL_WINSORIZE_EVENTS),
}
