"""Named TPC-H query suite (fixture-adapted).

The engine already proves the TPC-H *shapes* piecewise (q_agg_hash is
Q1, q_join_multiway is Q5, q_subquery_correlated is Q17,
q_exists_correlated is Q21); this module names the remaining
fixture-expressible queries under their canonical numbers so a user can
run "TPC-H Qn" directly. Adaptations forced by the synthetic schema are
stated per query (no l_commitdate / l_receiptdate / l_shipmode /
p_container / c_phone columns; output columns the fixture lacks are
dropped, never faked).

The suite is 22/22 named. Queries whose tables/columns the fixture
lacks (Q2/Q9/Q11/Q16/Q20 need partsupp; Q12/Q21 need the shipping-date
triple) run on the DERIVED-DIMENSION device: ``_partsupp`` /
``_lineitem_ship`` compute the missing table/columns as deterministic
integer arithmetic over the existing keys — the same dbgen-style move
the official generator makes (dbgen's ps_suppkey IS
``(partkey + i·(S/4 + …)) mod S``), evaluated identically in the Spark
plan and the DuckDB oracle so the hash gate stays honest. What the
derivation changes vs true TPC-H data is stated per query (e.g. Q9's
two-key partsupp lookup matches ~4/S of fact rows instead of all);
what it preserves is the POINT of each query: the plan shape — the
two-key dimension lookup, the min-cost join-back, the threshold scalar
subquery, the late-line decorrelation — is the spec's, at the spec's
position in the plan.

Reference parity: the reference (Go async batch pipeline,
async_data_pipeline.go:1-391) has no query surface; the TPC-H suite is
the canonical analytics-engine acceptance battery per SURVEY.md §2B.

Determinism: every money aggregate rides the exact-decimal device
(operators/_util.dsum — order-free sums, one final double), every top-k
orders by the 6dp-rounded measure with full key tiebreaks, and share
divisions are single IEEE expressions on identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..sources.tables import load_table
from ._util import davg, dsum, sql_dsum

_REV = "l_extendedprice * (1 - l_discount)"


def _rev_col():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(lit: str):
    return F.lit(lit).cast("timestamp")


@query(
    "q_tpch_q3", scan_repair=False,
    oracle=f"""
SELECT l.l_orderkey,
       round(CAST(SUM(CAST(({_REV}) AS DECIMAL(28,6))) AS DOUBLE), 6)
         AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
""",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): top-10 unshipped BUILDING-segment
    orders by outstanding revenue at the cutoff date. Adapted: the
    fixture has no o_shippriority column, so that output column is
    dropped; everything else is the standard query.

    Scale shape: the segment filter prunes customer BEFORE the join
    (broadcast — |customers·seg⁻¹| rows), both date filters push into
    the scans, the revenue reduce shuffles on l_orderkey only for rows
    surviving both predicates, and the top-10 plans as
    TakeOrderedAndProject on the 6dp grid.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ts("1998-03-15 00:00:00")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ts("1998-03-15 00:00:00")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(dsum(_rev_col(), "r"), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "q_tpch_q6", scan_repair=False,
    oracle=f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the revenue that would
    have been kept had discounts in a band been eliminated for one
    year of small-quantity lines — unmodified.

    Scale shape: the canonical full-pushdown probe — all three
    predicates reach the parquet scan (date range + discount band +
    quantity), no join, ONE map-combinable decimal sum to a single
    row. If this query shuffles anything, the engine is broken.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@query(
    "q_tpch_q7", scan_repair=False,
    oracle=f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       round(CAST(SUM(CAST(({_REV}) AS DECIMAL(28,6))) AS DOUBLE), 6)
         AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
JOIN nation nc ON nc.n_nationkey = c.c_nationkey
WHERE ((ns.n_name = 'NATION_9' AND nc.n_name = 'NATION_3')
    OR (ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_9'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade revenue between two
    nations by shipment year, both directions — unmodified apart from
    the fixture's nation names (the NATION_9/NATION_3 pair is the
    busiest bilateral lane in the synthetic graph, so the result is
    non-trivial at every SF).

    Scale shape: supplier/customer/nation dims broadcast; the two-year
    shipdate band pushes into the fact scan; the nation-pair predicate
    applies after broadcast attachment (map-side), so the only shuffle
    is the final bounded (nation², year) reduce.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = n.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_9")
        & (F.col("cust_nation") == "NATION_3")
    ) | (
        (F.col("supp_nation") == "NATION_3")
        & (F.col("cust_nation") == "NATION_9")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("snk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("cnk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.round(dsum(_rev_col(), "r"), 6).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q_tpch_q8", scan_repair=False,
    oracle=f"""
WITH base AS (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         CAST(({_REV}) AS DECIMAL(28,6)) AS volume,
         ns.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = nc.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                           THEN volume ELSE 0 END) AS DOUBLE)
             / nullif(CAST(sum(volume) AS DOUBLE), 0), 6) AS mkt_share,
       round(CAST(sum(volume) AS DOUBLE), 6) AS total_volume
FROM base GROUP BY 1 ORDER BY 1
""",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of PROMO-type
    part revenue sold into ASIA customers, by order year — unmodified
    apart from fixture names.

    Scale shape: the snowflake legs (customer→nation→region filter,
    supplier→nation, part-type filter) all broadcast and prune BEFORE
    touching the fact; the share is computed from ONE pass of
    conditional exact-decimal sums on the bounded year grid — never
    two scans for numerator and denominator.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    cust_asia = (
        c.join(
            F.broadcast(
                n.join(
                    F.broadcast(r),
                    n["n_regionkey"] == r["r_regionkey"],
                ).select("n_nationkey")
            ),
            c["c_nationkey"] == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    ns = n.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("volume")
    base = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_asia), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("snk"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _rev_col().cast("decimal(28,6)").alias("volume"),
            "supp_nation",
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                    F.lit(0).cast("decimal(28,6)")
                )
            )
            .cast("double")
            .alias("num"),
            F.sum(vol).cast("double").alias("den"),
        )
        .select(
            "o_year",
            F.round(
                F.col("num") / F.nullif(F.col("den"), F.lit(0.0)), 6
            ).alias("mkt_share"),
            F.round("den", 6).alias("total_volume"),
        )
        .orderBy("o_year")
    )


@query(
    "q_tpch_q10", scan_repair=False,
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       round(CAST(SUM(CAST(({_REV}) AS DECIMAL(28,6))) AS DOUBLE), 6)
         AS revenue,
       round(CAST(c.c_acctbal AS DOUBLE), 6) AS c_acctbal,
       n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): top-20 customers by revenue
    lost to returns in one quarter. Adapted: the fixture has no
    c_phone / c_address / c_comment, so those output columns are
    dropped; the query core is unmodified.

    Scale shape: the quarter filter prunes orders at the scan, the
    returnflag filter prunes lineitem at the scan, nation broadcasts,
    the reduce shuffles on the customer key, and the top-20 is
    TakeOrderedAndProject on the 6dp revenue grid with a custkey
    tiebreak.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-04-01 00:00:00"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal").cast("double"), 6).alias("c_acctbal"),
            "n_name",
        )
        .agg(F.round(dsum(_rev_col(), "r"), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query(
    "q_tpch_q14",
    oracle=f"""
SELECT round(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                THEN CAST(({_REV}) AS DECIMAL(28,6))
                ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
         / nullif(CAST(SUM(CAST(({_REV}) AS DECIMAL(28,6))) AS DOUBLE), 0),
         6) AS promo_revenue_pct,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
""",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the share of one month's revenue
    attributable to PROMO-type parts. Adapted only in the type match
    (the fixture's p_type is a single word, so equality replaces the
    `LIKE 'PROMO%'` prefix match).

    Scale shape: month filter pushes into the fact scan, part
    broadcasts, numerator and denominator come from ONE pass of
    conditional exact-decimal sums — the classic
    one-scan-two-aggregates share plan.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-06-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-07-01 00:00:00"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev_col().cast("decimal(28,6)")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("decimal(28,6)")
                )
            )
            .cast("double")
            .alias("num"),
            F.sum(rev).cast("double").alias("den"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .select(
            F.round(
                100.0 * F.col("num") / F.nullif(F.col("den"), F.lit(0.0)), 6
            ).alias("promo_revenue_pct"),
            "n_lines",
        )
    )


@query(
    "q_tpch_q15", scan_repair=False,
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         round(CAST(SUM(CAST(({_REV}) AS DECIMAL(28,6))) AS DOUBLE), 6)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, rev.total_revenue
FROM supplier s JOIN rev ON rev.supplier_no = s.s_suppkey
WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s.s_suppkey
""",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) whose quarterly
    shipped revenue equals the maximum — unmodified (the view becomes
    a CTE-shaped subplan; ties are all returned, per the spec).

    Scale shape: one supplier-keyed decimal reduce over the
    date-pruned fact, a 1-row broadcast max joined back (the
    decorrelated scalar-subquery shape — equality on the 6dp grid so
    both engines keep identical tie sets), supplier dim broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-04-01 00:00:00"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(dsum(_rev_col(), "r"), 6).alias("total_revenue"))
        .localCheckpoint(eager=False)  # feeds the max AND the join
    )
    mx = F.broadcast(rev.agg(F.max("total_revenue").alias("mx")))
    return (
        rev.crossJoin(mx)
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q18", scan_repair=False,
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY 1
  HAVING sum(l_quantity) > 150
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(CAST(o.o_totalprice AS DOUBLE), 6) AS o_totalprice,
       CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN big ON big.l_orderkey = o.o_orderkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3, 4, 5
ORDER BY o_totalprice DESC, o.o_orderdate, o.o_orderkey
LIMIT 100
""",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large volume customer): orders whose total quantity
    exceeds the threshold, with their customers, top-100 by order
    value — unmodified (threshold scaled to the fixture's ≤7-line
    orders: 150). Quantity sums are integers in the fixture, so the
    HAVING boundary and total_qty are exact.

    Scale shape: the canonical semi-join-on-an-aggregate plan — the
    HAVING reduce shuffles lineitem once on the order key, the
    surviving (tiny) key set joins back co-partitioned, customer
    attaches by broadcast, and the top-100 is TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("bk"))
    )
    return (
        li.join(big, F.col("l_orderkey") == F.col("bk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice").cast("double"), 6).alias(
                "o_totalprice"
            ),
        )
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "q_tpch_q22", scan_repair=False,
    oracle="""
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
           / count(*) AS a
  FROM customer WHERE c_acctbal > 0.0
),
active AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
SELECT n.n_name AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       round(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,6))) AS DOUBLE), 6)
         AS totacctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM active WHERE active.o_custkey = c.c_custkey)
GROUP BY 1 ORDER BY 1
""",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers with
    above-average positive balances who have never ordered, counted
    per country. Adapted: the fixture has no c_phone, so the
    country code comes from the customer's nation instead of the
    phone prefix, and "never ordered" becomes "no order since
    2000-01-01" (the synthetic order generator gives every customer at
    least one lifetime order, which would make the literal spec
    predicate vacuously empty); the anti-join core is unmodified —
    dormant high-balance accounts per country.

    Scale shape: the average is a 1-row broadcast (decorrelated scalar
    subquery), the never-ordered test is a LeftAnti against the
    distinct order custkeys (co-partitioned on the customer key, never
    a per-row probe), nation broadcasts, and the reduce lands on the
    bounded country grid.
    """
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts("2000-01-01 00:00:00"))
        .select("o_custkey")
        .distinct()
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    avg_bal = F.broadcast(
        c.filter(F.col("c_acctbal") > 0.0).agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("a")
        )
    )
    return (
        c.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast(
                    "double"
                ),
                6,
            ).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "q_tpch_q4", scan_repair=False,
    oracle="""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY 1 ORDER BY 1
""",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): orders placed in one quarter
    with at least one LATE line, counted per priority. Adapted: the
    fixture has no l_commitdate / l_receiptdate, so "late" becomes
    "shipped more than 60 days after the order date" — the same
    per-order EXISTS semantics against a date comparison the schema
    can express.

    Scale shape: the quarter filter prunes orders at the scan; the
    correlated EXISTS decorrelates to a LeftSemi on the order key
    (plan-audited shape, q_exists_correlated doctrine) with the
    60-day comparison evaluated in the join condition — one
    co-partitioned pass, never a per-row probe; the reduce lands on
    the bounded priority grid.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-04-01 00:00:00"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_tpch_q13", scan_repair=False,
    oracle="""
WITH c_orders AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey
   AND o.o_orderpriority != '1-URGENT'
  GROUP BY 1
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY 1
ORDER BY custdist DESC, c_count DESC
""",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): the histogram of
    orders-per-customer, customers with zero qualifying orders
    included via the outer join. Adapted: the spec excludes orders by
    a comment pattern the fixture lacks; the exclusion predicate
    becomes `o_orderpriority != '1-URGENT'` — same shape (a non-key
    filter INSIDE the outer join condition, which must not turn the
    join inner).

    Scale shape: one outer join co-keyed on the customer key with the
    exclusion evaluated pre-join (pushed to the orders scan — legal
    on the preserved side), a customer-keyed count, then a second
    reduce onto the bounded count grid. The zero bucket is the
    structural test: losing it means the outer join silently
    degraded.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    c_orders = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q_tpch_q19", scan_repair=False,
    oracle=f"""
SELECT {sql_dsum(_REV, 'revenue')},
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 45)
""",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): revenue from lines matching any
    of three (brand, size-band, quantity-band) disjuncts — THE
    disjunctive-predicate pushdown probe. Adapted: the fixture has no
    p_container / l_shipmode / l_shipinstruct, so each disjunct keeps
    its brand + size + quantity legs only.

    Scale shape: the part-side legs of the OR (brand, size) prune the
    broadcast dim BEFORE the join (a part matching NO disjunct's
    brand+size never ships to the fact side), the quantity legs
    evaluate post-join map-side, and the whole thing is one scan +
    one broadcast join + one decimal sum. Catalyst cannot split an
    OR across scans — pre-filtering the dim to the UNION of part-leg
    matches is the manual half it can't do.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    part_leg = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50))
    )
    full = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 45)
        )
    )
    return (
        li.join(
            F.broadcast(p.filter(part_leg)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(full)
        .agg(
            dsum(_rev_col(), "revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Derived-dimension device (see module docstring).
#
# The fixture has no partsupp table and no shipping-date triple; dbgen
# itself creates both from deterministic arithmetic over the keys
# (dbgen dss.h/driver.c: ps_suppkey = (partkey + i*(S/4 + (partkey-1)/S))
# mod S + 1; dates = orderdate + uniform offsets). We use the same move
# with fixture-friendly constants, expressed ONCE here and mirrored
# verbatim in every oracle's CTE so both engines compute bit-identical
# dimensions:
#
#   partsupp  (4 rows per part, suppliers distinct because S div 4,
#              2*(S div 4), 3*(S div 4) are never 0 mod S for S >= 4):
#     ps_suppkey        = (p_partkey + i * (S div 4)) % S       i in 0..3
#     ps_availqty       = (p_partkey * 7   + i * 13)   % 9991  + 1
#     ps_cost_cents     = (p_partkey * 311 + i * 1009) % 100000 + 100
#   (supply cost is carried as integer CENTS so sums/mins/products stay
#    exact BIGINTs; /100.0 happens once per output row.)
#
#   lineitem shipping triple (per line, offsets relative to l_shipdate):
#     l_shipmode    = MODES_7[(l_orderkey*31 + l_linenumber) % 7]
#     l_commitdate  = date(l_shipdate) + ((l_orderkey*13 + l_linenumber*7)  % 61 - 30)
#     l_receiptdate = date(l_shipdate) + ((l_orderkey*17 + l_linenumber*11) % 30 + 1)
#   so "late" (receipt > commit) is the pure integer predicate r > c.
# ---------------------------------------------------------------------------

_PS_SQL = """scnt AS (SELECT CAST(count(*) AS INTEGER) AS s_cnt FROM supplier),
partsupp AS (
  SELECT p_partkey AS ps_partkey,
         CAST((p_partkey + i.i * (s_cnt // 4)) % s_cnt AS INTEGER) AS ps_suppkey,
         CAST((p_partkey * 7 + i.i * 13) % 9991 + 1 AS INTEGER) AS ps_availqty,
         CAST((p_partkey * 311 + i.i * 1009) % 100000 + 100 AS BIGINT) AS ps_cost_cents
  FROM part, scnt, (SELECT unnest([0, 1, 2, 3]) AS i) i
)"""

_MODES_7 = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]

_LSHIP_SQL = """lineitem_ship AS (
  SELECT l.*,
         (['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB'])
           [CAST((l_orderkey * 31 + l_linenumber) % 7 AS INTEGER) + 1]
           AS l_shipmode,
         CAST(l_shipdate AS DATE)
           + CAST((l_orderkey * 13 + l_linenumber * 7) % 61 - 30 AS INTEGER)
           AS l_commitdate,
         CAST(l_shipdate AS DATE)
           + CAST((l_orderkey * 17 + l_linenumber * 11) % 30 + 1 AS INTEGER)
           AS l_receiptdate
  FROM lineitem l
)"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp (docstring above): 4 suppliers per part via the
    dbgen stride, availqty/supplycost as hash arithmetic on the keys.

    Scale shape: on the fixture family |part| is dim-scale, so
    partsupp (4·|part|) is too; the supplier COUNT rides a 1-row
    broadcast (the q_tpch_q15/q22 decorrelated-scalar pattern — never
    a driver-side action), and the whole build is one projected dim
    scan + explode, no shuffle. NB at true TPC-H proportions partsupp
    is FACT-scale (|lineitem|/7.5): consumers must not pin a broadcast
    hint on this frame (q_tpch_q9 documents the AQE-decides rule).
    """
    scnt = F.broadcast(
        load_table(spark, sf_dir, "supplier").agg(
            F.count(F.lit(1)).cast("int").alias("s_cnt")
        )
    )
    return (
        load_table(spark, sf_dir, "part")
        .select("p_partkey")
        .crossJoin(scnt)
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
            "s_cnt",
        )
        .select(
            "ps_partkey",
            (
                (F.col("ps_partkey") + F.col("i") * F.expr("s_cnt div 4"))
                % F.col("s_cnt")
            )
            .cast("int")
            .alias("ps_suppkey"),
            ((F.col("ps_partkey") * 7 + F.col("i") * 13) % 9991 + 1)
            .cast("int")
            .alias("ps_availqty"),
            ((F.col("ps_partkey") * 311 + F.col("i") * 1009) % 100000 + 100)
            .cast("bigint")
            .alias("ps_cost_cents"),
        )
    )


def _lineitem_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + the derived shipping triple (docstring above).

    Row-local integer arithmetic + one date_add — whole-stage codegen,
    no shuffle, no UDF; predicates on the derived columns stay map-side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    idx = ((F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 7).cast("int")
    c_off = ((F.col("l_orderkey") * 13 + F.col("l_linenumber") * 7) % 61 - 30).cast(
        "int"
    )
    r_off = ((F.col("l_orderkey") * 17 + F.col("l_linenumber") * 11) % 30 + 1).cast(
        "int"
    )
    return (
        li.withColumn(
            "l_shipmode",
            F.element_at(F.array(*[F.lit(m) for m in _MODES_7]), idx + 1),
        )
        .withColumn("l_commitdate", F.date_add(F.col("l_shipdate").cast("date"), c_off))
        .withColumn(
            "l_receiptdate", F.date_add(F.col("l_shipdate").cast("date"), r_off)
        )
    )


def _D28(expr: str) -> str:
    """DuckDB exact-decimal sum fragment (sql_dsum without the alias)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE)"


@query(
    "q_tpch_q1",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       round({_D28('l_extendedprice')}, 6) AS sum_base_price,
       round({_D28(_REV)}, 6) AS sum_disc_price,
       round({_D28('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}, 6)
         AS sum_charge,
       round({_D28('l_quantity')} / COUNT(l_quantity), 6) AS avg_qty,
       round({_D28('l_extendedprice')} / COUNT(l_extendedprice), 6) AS avg_price,
       round({_D28('l_discount')} / COUNT(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) under its canonical name —
    unmodified (the shape the engine's flagship q_agg_hash proves is
    re-published here so the named suite is 22/22). All eight spec
    aggregates, grouped by return flag and line status at the 90-day
    cutoff.

    Scale shape: ONE map-combinable pass — every sum rides the exact
    DECIMAL(28,6) device (prices are 2dp, discount/tax 2dp, so the
    6dp products are exact and order-free), averages are decimal-sum /
    count on one row, and the output grid is |flag|x|status| (bounded).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= _ts("1998-09-02 00:00:00")
    )
    charge = _rev_col() * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
            F.round(dsum("l_extendedprice", "x"), 6).alias("sum_base_price"),
            F.round(dsum(_rev_col(), "x"), 6).alias("sum_disc_price"),
            F.round(dsum(charge, "x"), 6).alias("sum_charge"),
            F.round(davg("l_quantity", "x"), 6).alias("avg_qty"),
            F.round(davg("l_extendedprice", "x"), 6).alias("avg_price"),
            F.round(davg("l_discount", "x"), 6).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_tpch_q2",
    oracle=f"""
WITH {_PS_SQL},
eligible AS (
  SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_cost_cents,
         s.s_acctbal, s.s_name, n.n_name
  FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
mn AS (
  SELECT ps_partkey, min(ps_cost_cents) AS mn_cents
  FROM eligible GROUP BY 1
)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey,
       CAST(e.ps_cost_cents AS DOUBLE) / 100.0 AS ps_supplycost
FROM eligible e
JOIN mn ON e.ps_partkey = mn.ps_partkey AND e.ps_cost_cents = mn.mn_cents
JOIN part p ON e.ps_partkey = p.p_partkey
WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
LIMIT 100
""",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum cost supplier): for each STANDARD part in the size band 10-20,
    the EUROPE supplier(s) at the minimum supply cost. Derived-fixture:
    partsupp comes from the dbgen-stride device (module docstring);
    p_type equality replaces LIKE '%BRASS' (single-word fixture types),
    and p_mfgr/address/phone/comment output columns are absent from the
    fixture, so dropped. The POINT of the query — the correlated
    min-cost subquery decorrelating to a grouped-min join-back — is
    intact.

    Scale shape: partsupp is dim-scale (4·|part|) so the whole query
    never touches a fact table: region-pruned supplier⋈nation broadcast
    onto partsupp, one dim-sized grouped min, equality join-back, part
    filter broadcast, TakeOrdered top-100 on the spec's (acctbal desc,
    nation, supplier, part) grid — a total order because (s_name,
    p_partkey) is unique per eligible pair.
    """
    ps = _partsupp(spark, sf_dir)
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    elig = ps.join(F.broadcast(eu), F.col("ps_suppkey") == F.col("s_suppkey")).select(
        "ps_partkey", "ps_suppkey", "ps_cost_cents", "s_acctbal", "s_name", "n_name"
    )
    mn = elig.groupBy(F.col("ps_partkey").alias("mn_partkey")).agg(
        F.min("ps_cost_cents").alias("mn_cents")
    )
    pf = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    return (
        elig.join(
            mn,
            (F.col("ps_partkey") == F.col("mn_partkey"))
            & (F.col("ps_cost_cents") == F.col("mn_cents")),
        )
        .join(F.broadcast(pf), F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("ps_cost_cents").cast("double") / 100.0).alias("ps_supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q_tpch_q5", scan_repair=False,
    oracle=f"""
SELECT n.n_name, round({{d28rev}}, 6) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
""".replace("{d28rev}", "CAST(SUM(CAST((" + _REV + ") AS DECIMAL(28,6))) AS DOUBLE)"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) under its canonical name —
    revenue per ASIA nation for 1996 orders where the customer and the
    line's supplier share the nation (q_join_multiway proves the
    5-way-join shape; this is the spec's exact query). Unmodified.

    Scale shape: the year filter prunes orders at the scan; the only
    big-big shuffle is lineitem⋈orders on the order key; customer,
    supplier, nation, region all broadcast; the local-supplier
    condition (s_nationkey = c_nationkey) evaluates map-side after the
    broadcasts; final reduce is the bounded nation grid.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-01-01 00:00:00"))
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(dsum(_rev_col(), "x"), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q_tpch_q9", scan_repair=False,
    oracle=f"""
WITH {_PS_SQL}
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       round(CAST(SUM(CAST(({_REV}) AS DECIMAL(28,6))) AS DOUBLE)
             - CAST(SUM(ps.ps_cost_cents * CAST(l.l_quantity AS BIGINT))
                    AS DOUBLE) / 100.0, 6) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                AND ps.ps_suppkey = l.l_suppkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit): profit (revenue minus supply
    cost) by supplier nation and order year for 'red' parts.
    Derived-fixture: partsupp from the dbgen-stride device, so the
    two-key (partkey, suppkey) lookup matches ~4/S of 'red' fact lines
    instead of all of them (stated in the module docstring); p_name
    LIKE '%red%' replaces '%green%' (the fixture palette). The spec's
    plan — fact through a two-key dimension lookup with part/supplier
    legs — is exactly what runs.

    Scale shape: the part filter broadcasts (hinted — it is a pruned
    dim at any scale); partsupp joins UNHINTED so AQE broadcasts it at
    fixture proportions but falls back to the co-keyed shuffle join at
    true TPC-H proportions, where partsupp is fact-scale; supplier and
    nation broadcast; the one unavoidable big-big shuffle is the
    orders join on the order key; profit = ONE grouped pass of an
    exact-decimal revenue sum MINUS an exact BIGINT cents·qty sum,
    divided once per output row — never two scans.
    """
    ps = _partsupp(spark, sf_dir)
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    cost_qty = F.col("ps_cost_cents") * F.col("l_quantity").cast("bigint")
    # partsupp carries NO broadcast hint on purpose: it is dim-sized on
    # the fixture family (4·|part|), so Catalyst/AQE broadcasts it here
    # anyway — but at true TPC-H proportions partsupp is FACT-scale
    # (|lineitem|/7.5), and a forced hint would pin an OOM at 100 TB
    # where the right plan is the co-keyed shuffle join AQE selects.
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(
                dsum(_rev_col(), "x")
                - F.sum(cost_qty).cast("double") / 100.0,
                6,
            ).alias("profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q_tpch_q11",
    oracle=f"""
WITH {_PS_SQL},
innat AS (
  SELECT ps.ps_partkey, ps.ps_availqty, ps.ps_cost_cents
  FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  WHERE s.s_nationkey = (SELECT min(s_nationkey) FROM supplier)
),
byp AS (
  SELECT ps_partkey,
         SUM(ps_cost_cents * CAST(ps_availqty AS BIGINT)) AS v_cents
  FROM innat GROUP BY 1
),
tot AS (SELECT SUM(v_cents) AS t_cents FROM byp)
SELECT ps_partkey, CAST(v_cents AS DOUBLE) / 100.0 AS value
FROM byp, tot
WHERE CAST(v_cents AS DOUBLE) > 0.0001 * CAST(t_cents AS DOUBLE)
ORDER BY value DESC, ps_partkey
""",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): parts whose stock
    value held by the pinned nation's suppliers exceeds the spec's
    0.0001 fraction of that nation's total stock value (the nation is
    pinned structurally — lowest nationkey with any supplier, a 1-row
    decorrelated scalar — so the query is non-trivial at every SF;
    a name literal can be empty at sf0.001's 10 suppliers). Derived-fixture partsupp
    (module docstring); otherwise the spec's query with the spec's
    threshold shape — the HAVING against a scalar subquery.

    Scale shape: dim-only (partsupp is 4·|part|): nation-pruned
    supplier broadcast onto partsupp, one dim-sized grouped BIGINT
    cents·qty sum, the grand total as a 1-row broadcast (decorrelated
    scalar), map-side threshold filter, sort on the exact value grid.
    All value arithmetic is exact integers until the single /100.0 per
    output row; the threshold compare is one IEEE multiply on
    identical exact doubles in both engines.
    """
    ps = _partsupp(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    mn_nat = F.broadcast(sup.agg(F.min("s_nationkey").alias("mn_nat")))
    innat = ps.join(
        F.broadcast(
            sup.crossJoin(mn_nat).filter(F.col("s_nationkey") == F.col("mn_nat"))
        ),
        F.col("ps_suppkey") == F.col("s_suppkey"),
    )
    byp = innat.groupBy("ps_partkey").agg(
        F.sum(
            F.col("ps_cost_cents") * F.col("ps_availqty").cast("bigint")
        ).alias("v_cents")
    )
    tot = F.broadcast(byp.agg(F.sum("v_cents").alias("t_cents")))
    return (
        byp.crossJoin(tot)
        .filter(
            F.col("v_cents").cast("double") > 0.0001 * F.col("t_cents").cast("double")
        )
        .select(
            "ps_partkey", (F.col("v_cents").cast("double") / 100.0).alias("value")
        )
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


@query(
    "q_tpch_q12",
    oracle=f"""
WITH {_LSHIP_SQL}
SELECT l_shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem_ship l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipmode IN ('MAIL', 'SHIP')
  AND l.l_commitdate < l.l_receiptdate
  AND l.l_shipdate < l.l_commitdate
  AND l.l_receiptdate >= DATE '1997-01-01'
  AND l.l_receiptdate < DATE '1998-01-01'
GROUP BY l_shipmode
ORDER BY l_shipmode
""",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority): late-risk line
    counts by priority class for MAIL/SHIP lines received in 1997.
    Derived-fixture: the shipmode/commitdate/receiptdate triple comes
    from the dbgen-style arithmetic device (module docstring) since the
    fixture lacks all three columns; the spec's predicates — commit
    before receipt, shipped before commit, receipt in the year — run
    verbatim on the derived columns.

    Scale shape: the derived columns are row-local codegen, so all
    four predicates evaluate map-side at the fact scan (the mode IN
    and date comparisons never see a shuffle); the one shuffle is the
    orders join on the order key; final reduce is the 2-row mode grid
    with both counts from ONE conditional pass.
    """
    li = _lineitem_ship(spark, sf_dir).filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate").cast("date") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_receiptdate") < F.lit("1998-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


@query(
    "q_tpch_q16",
    oracle=f"""
WITH {_PS_SQL}
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps.ps_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
""",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many suppliers can
    supply each (brand, type, size) combination, excluding one brand,
    one type family, and a supplier blocklist. Derived-fixture
    partsupp; p_type <> 'PROMO' replaces the spec's NOT LIKE
    'MEDIUM POLISHED%' (single-word fixture types), and the
    customer-complaints blocklist becomes the negative-balance
    suppliers (the fixture has no s_comment; the NOT IN shape — an
    anti-join against a correlated-free subquery — is the spec's).

    Scale shape: dim-only — part filters prune before the join,
    partsupp is 4·|part|, the blocklist is a broadcast LeftAnti, and
    count(DISTINCT suppkey) runs on the bounded (brand, type, size)
    grid via Spark's two-phase distinct expand. Order is total (the
    group key).
    """
    ps = _partsupp(spark, sf_dir)
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q_tpch_q17", scan_repair=False,
    oracle=f"""
WITH pp AS (
  SELECT p_partkey FROM part
  WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
),
lp AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN pp ON l.l_partkey = pp.p_partkey
),
av AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
           / COUNT(l_quantity) AS avg_qty
  FROM lp GROUP BY 1
)
SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly
FROM lp l JOIN av ON l.l_partkey = av.l_partkey
WHERE l.l_quantity < 0.2 * av.avg_qty
""",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue) under its canonical
    name — the average yearly revenue lost if small-quantity orders
    (below 20% of the part's average) for one brand's SMALL parts were
    not taken (q_subquery_correlated proves the decorrelation shape;
    this is the spec's exact query). Adapted: p_type 'SMALL' stands in
    for the missing p_container.

    Scale shape: the part filter broadcasts and prunes lineitem FIRST,
    so the correlated AVG subquery decorrelates to a grouped mean over
    only the brand's lines (one part-keyed reduce), joined back
    co-keyed; the 0.2·avg compare is one IEEE multiply on identical
    exact-decimal-derived doubles; final sum is one exact-decimal
    1-row reduce.
    """
    pp = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    lp = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(pp), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    av = lp.groupBy(F.col("l_partkey").alias("av_partkey")).agg(
        davg("l_quantity", "avg_qty")
    )
    return (
        lp.join(av, F.col("l_partkey") == F.col("av_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(dsum("l_extendedprice", "x") / 7.0, 6).alias("avg_yearly")
        )
    )


@query(
    "q_tpch_q20",
    oracle=f"""
WITH {_PS_SQL},
shipped AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT ps.ps_suppkey
  FROM partsupp ps
  JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_name LIKE 'red%'
  JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                 AND sh.l_suppkey = ps.ps_suppkey
  WHERE 2 * ps.ps_availqty > sh.qty
)
SELECT s.s_name
FROM supplier s JOIN cand ON s.s_suppkey = cand.ps_suppkey
ORDER BY s.s_name
""",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers holding excess
    stock (availqty > half of what they shipped in 1997) of 'red'
    parts. Derived-fixture partsupp; p_name LIKE 'red%' replaces
    'forest%' (the fixture palette); the spec's nation filter is
    dropped (it empties at sf0.001's 10 suppliers) and s_address is
    absent from the fixture. The spec's nested-subquery shape — an IN
    over partsupp filtered by a correlated half-of-shipped-qty
    subquery — runs as written, decorrelated.

    Scale shape: the correlated qty subquery decorrelates to ONE
    (partkey, suppkey)-keyed reduce over the year-pruned fact; the
    part filter broadcasts onto dim-scale partsupp; the excess-stock
    compare is exact integers (2·availqty > qty — no 0.5 double);
    DISTINCT collapses on the bounded supplier key set; supplier
    attaches by broadcast.
    """
    ps = _partsupp(spark, sf_dir)
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    )
    cand = (
        ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            shipped,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(2 * F.col("ps_availqty") > F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        cand.join(F.broadcast(sup), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("s_name")
        .orderBy("s_name")
    )


@query(
    "q_tpch_q21",
    oracle=f"""
WITH lat AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN (l_orderkey * 17 + l_linenumber * 11) % 30 + 1
                 > (l_orderkey * 13 + l_linenumber * 7) % 61 - 30
              THEN 1 ELSE 0 END AS late
  FROM lineitem
),
perord AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp
  FROM lat GROUP BY 1
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM lat l1
JOIN perord po ON po.l_orderkey = l1.l_orderkey
              AND po.n_supp >= 2 AND po.n_late_supp = 1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.late = 1
GROUP BY 1
ORDER BY numwait DESC, s.s_name
LIMIT 100
""",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting) under its
    canonical name: suppliers whose late line was the ONLY late
    supplier on a multi-supplier finalized order
    (q_exists_correlated proves the EXISTS/NOT-EXISTS shape; this is
    the spec's query on the derived shipping dates). Derived-fixture:
    "late" (receiptdate > commitdate) reduces to the pure integer
    predicate r_off > c_off of the date device — no date
    materialization at all; the spec's nation filter is dropped (it
    empties at sf0.001).

    Scale shape: the EXISTS ("another supplier") and NOT EXISTS ("no
    OTHER late supplier") decorrelate to ONE order-keyed reduce
    computing both distinct-supplier counts in one pass; late lines
    join it and F-status orders co-keyed on the order key (no second
    fact scan for l2/l3 — the counts carry both subqueries); supplier
    broadcast; TakeOrdered top-100 on (count desc, name) — total
    because s_name is unique.
    """
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        (F.col("l_orderkey") * 17 + F.col("l_linenumber") * 11) % 30 + 1
        > (F.col("l_orderkey") * 13 + F.col("l_linenumber") * 7) % 61 - 30
    )
    lat = li.select(
        "l_orderkey",
        "l_suppkey",
        F.when(late, 1).otherwise(0).alias("late"),
    )
    # r13 (guide §2.3/§2.4): the two countDistincts planned an Expand
    # (2× every line into the shuffle) plus a second order-keyed
    # exchange, and the late-lines join branch re-shuffled the fact a
    # third time. One explicit order-keyed exchange now feeds
    # EVERYTHING: the (order, supplier) rollup po needs
    # ClusteredDistribution(ok, sk) — satisfied by hash(ok) — and both
    # derived frames (the per-order counts and the late-supplier
    # candidates) stay hash(ok)-partitioned, so their join needs NO
    # further exchange; the map-side scan under the shared exchange
    # runs once (ReusedExchange). Late LINES per (order, supplier)
    # ride the same rollup (Σ late), so the line-level join branch —
    # and its shuffle — disappear: numwait = Σ n_late_lines over the
    # qualifying orders' single late supplier, identical arithmetic.
    po = (
        lat.repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max("late").alias("late_any"),
            F.sum("late").cast("long").alias("n_late_lines"),
        )
    )
    perord = po.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("late_any").alias("n_late_supp"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        po.filter(F.col("late_any") == 1)
        .join(
            perord,
            (F.col("l_orderkey") == F.col("po_orderkey"))
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1),
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
