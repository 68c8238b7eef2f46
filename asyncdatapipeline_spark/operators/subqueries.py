"""Correlated subqueries (SURVEY.md §4 "subquery decorrelation").

The reference engine claims subquery decorrelation as a built-in
(SURVEY.md §4); until round 5 only the uncorrelated half was exercised
(q_scalar_subquery, q_join_semi/anti). These operators cover the
correlated half — the most common relational idiom in analyst SQL:

- ``q_subquery_correlated``: TPC-H Q17's shape — rows compared against
  an aggregate over *their own* group (parts ordered below 20% of that
  part's average quantity).
- ``q_exists_correlated``: TPC-H Q21's shape — per-row EXISTS and
  NOT EXISTS with an extra predicate (multi-supplier orders where no
  *other* supplier's line was returned).
- ``q_join_lateral``: ``, LATERAL (... LIMIT k)`` — per-group top-k as
  analysts write it, decorrelated to map-side WindowGroupLimit.
- ``q_join_null_anti``: ``NOT IN`` — the null-aware anti join with its
  tri-valued NULL semantics.

Scale notes (why these survive 100 TB): Catalyst DECORRELATES both —
the correlated scalar subqueries become one per-partkey aggregate
joined back on the key (and `MergeScalarSubqueries` fuses the sum and
count subqueries into a single aggregate), and EXISTS / NOT EXISTS
become left-semi / left-anti joins. Nothing executes per-row; the plan
audit (plans/audit.py) asserts no per-row subquery node survives in
the physical plan. The same SQL text runs on DuckDB as the oracle.

Determinism: the Q17 threshold ``qty < 0.2 * avg(qty)`` is evaluated
cross-multiplied in exact decimal/integer arithmetic
(``qty*5*count < sum``), so no engine's float `avg` rounding can flip
a boundary row (the operators/_util.py decimal-armor discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

# Exact-arithmetic Q17 shape, shared verbatim by Spark and DuckDB:
# qty*5*cnt < sum  ⟺  qty < 0.2 * (sum/cnt) = 0.2 * avg, with every
# operand exact (DECIMAL(18,6) casts of integer-valued quantities,
# BIGINT counts), so the strict inequality is bit-identical across
# engines — no float avg at the boundary.
_Q17_SQL = """
SELECT p.p_brand,
       count(*) AS n_small_lines,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS small_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(18,6)) * 5 *
      (SELECT count(*) FROM lineitem l2
       WHERE l2.l_partkey = l.l_partkey)
    < (SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,6))) FROM lineitem l2
       WHERE l2.l_partkey = l.l_partkey)
GROUP BY p.p_brand
ORDER BY p.p_brand
"""

# Q21 shape: suppliers stuck in finished multi-supplier orders where no
# OTHER supplier's line was returned (l_returnflag stands in for the
# receipt/commit-date predicate the fixture lacks).
_Q21_SQL = """
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY s.s_name
"""


def _views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


@query("q_subquery_correlated", scan_repair=False, oracle=_Q17_SQL)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, TPC-H Q17 shape (SURVEY.md §4):
    lineitem rows whose quantity is below 20% of *their part's* average
    quantity, rolled up to brand revenue.

    Catalyst decorrelates both correlated aggregates into per-partkey
    HashAggregates joined back to lineitem on l_partkey (the count via
    LeftOuter, the sum via Inner after a null filter) — at 100 TB that
    is a key-join on the column the table would be bucketed by, not
    60 billion per-row subquery executions. Each aggregate's output is
    one row per partkey (|parts| ≪ |lineitem|), so both sides broadcast
    here and stay shuffle-light at scale. The part join broadcasts
    (dim-sized). Plan-audited: no per-row Subquery node survives and
    the decorrelated LeftOuter aggregate join is present.
    """
    # Repair opt-out: every lineitem branch lands in a keyed exchange
    # (the decorrelated per-partkey aggregates + the part join), so the
    # repair's round-robin shuffle is a pure extra barrier here (r12
    # whole-suite A/B, OPTIMIZATION_r12.md "per-query opt-outs").
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q17_SQL)


@query("q_exists_correlated", scan_repair=False, oracle=_Q21_SQL)
def q_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS, TPC-H Q21 shape (SURVEY.md §4):
    suppliers whose returned lines sit in finished orders that involve
    another supplier — but where no other supplier's line was returned.

    Catalyst rewrites EXISTS → left-semi join and NOT EXISTS →
    left-anti join, both on l_orderkey — the natural shuffle key all
    three lineitem branches already share, so at scale this is three
    co-partitioned passes over lineitem, never a per-row probe.
    Plan-audited: the physical plan contains a LeftSemi and a LeftAnti
    join and no per-row subquery execution.
    """
    # Repair opt-out: all three lineitem branches shuffle on l_orderkey
    # anyway (semi/anti/join), so the repair's round-robin shuffle is a
    # pure extra barrier here (r12 whole-suite A/B, OPTIMIZATION_r12.md
    # "per-query opt-outs").
    _views(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(_Q21_SQL)


# Lateral correlated subquery with per-group LIMIT — "top-3 orders per
# customer" phrased the way analysts write it. Catalyst rewrites the
# LIMIT into WindowGroupLimit (a PARTIAL map-side k-heap before the
# shuffle, then Final) joined back on the key — the same physical shape
# q_topk_group hand-builds with row_number, derived automatically.
_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
) t
WHERE c.c_nationkey < 5
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""

# NOT IN — the NULL-AWARE anti join. Distinct from NOT EXISTS
# (q_join_anti): one NULL in the subquery column legally empties the
# whole result (x NOT IN (..., NULL) is never TRUE). Spark plans the
# single-column case as a null-aware BroadcastHashJoin LeftAnti; a
# planted-NULL test pins the tri-valued semantics both engines share.
_NULL_ANTI_SQL = """
SELECT p_partkey, p_brand FROM part
WHERE p_partkey NOT IN
  (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
ORDER BY p_partkey
"""


@query("q_join_lateral", oracle=_LATERAL_SQL)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral correlated subquery with per-group LIMIT (SURVEY.md §4):
    the top-3 orders of every nation-filtered customer, written as the
    `, LATERAL (...)` idiom.

    Scale shape after decorrelation: WindowGroupLimit runs PARTIAL on
    the map side (each task keeps a 3-heap per customer before the
    shuffle — plan-audited), so the exchange carries at most 3 rows per
    (task, customer), then Final + the broadcast customer join. At
    100 TB nothing materializes a customer's full order list. The
    o_orderkey tiebreak makes the LIMIT deterministic in both engines.
    """
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_LATERAL_SQL)


@query("q_join_null_anti", oracle=_NULL_ANTI_SQL)
def q_join_null_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN — the null-aware anti join (parts never ordered in large
    quantity), completing the anti-join family: q_join_anti is NOT
    EXISTS (null-blind), this is NOT IN (tri-valued: a NULL in the
    subquery column empties the result — planted-NULL test pins it).

    Plan: null-aware BroadcastHashJoin LeftAnti
    (HashedRelationBroadcastMode(..., true), plan-audited) — the fact
    side streams, the filtered subquery side broadcasts. At 100 TB the
    build side must stay broadcastable (it is the *filtered* key set);
    an above-threshold build side falls back to the NOT EXISTS form
    plus an explicit IS NOT NULL guard, which shuffles instead.
    """
    _views(spark, sf_dir, "part", "lineitem")
    return spark.sql(_NULL_ANTI_SQL)


# Recursive CTE (Spark 4's WITH RECURSIVE): a calendar date spine
# generated by recursion, LEFT-joined back to per-day event counts so
# empty days surface as zeros — the recursion-native phrasing of the
# gap-fill q_ts_resample builds with sequence+explode. The two engines
# differ only in date-increment dialect (DATE_ADD vs + INTERVAL).
_RECURSIVE_SPARK_SQL = """
WITH RECURSIVE spine(d, mx) AS (
  SELECT CAST(min(ts) AS DATE), CAST(max(ts) AS DATE) FROM events
  UNION ALL
  SELECT DATE_ADD(s.d, 1), s.mx
  FROM spine s
  WHERE s.d < s.mx
)
SELECT CAST(s.d AS STRING) AS event_date, count(e.event_id) AS n_events
FROM spine s LEFT JOIN events e ON CAST(e.ts AS DATE) = s.d
GROUP BY s.d ORDER BY s.d
"""
# The max bound rides ALONG the recursion as a column (anchor computes
# both aggregates in one events pass): a bound subquery in the
# recursive term would re-scan events EVERY iteration — measured 6s vs
# 0.3s at sf0.1 × 30 days. The recursion itself then touches only the
# previous spine row per step.
# (event_date is emitted as a STRING: a bare DATE round-trips through
# pandas as Timestamp in DuckDB but datetime.date in Spark, which the
# value canonicalizers — the driver's and check_oracle's — render
# differently; 'YYYY-MM-DD' text is identical in both.)

_RECURSIVE_DUCK_SQL = _RECURSIVE_SPARK_SQL.replace(
    # DuckDB's date + INTERVAL yields TIMESTAMP; cast back so the
    # recursion keeps DATE type end-to-end like Spark's DATE_ADD.
    "DATE_ADD(s.d, 1), s.mx",
    "CAST(s.d + INTERVAL 1 DAY AS DATE), s.mx",
).replace("AS STRING", "AS VARCHAR")


@query("q_recursive_cte", scan_repair=False, oracle=_RECURSIVE_DUCK_SQL)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4): a calendar spine
    grown day-by-day from the corpus min date, LEFT-joined to per-day
    counts so silent days report 0 — the monitoring query that catches
    a dead ingest pipeline.

    Scale shape: the recursion's working set is O(days) — the anchor
    computes BOTH date bounds in one events pass and the max bound
    rides along as a recursion column, so each step touches only the
    previous spine row (a bound subquery in the recursive term would
    re-scan events per iteration — measured 6 s vs 0.3 s at sf0.1);
    Spark's recursion limit (spark.sql.cteRecursionLevelLimit,
    default 100) bounds runaway anchors; the fixture spans 30 days.
    The events side
    aggregates BEFORE ever meeting the spine only in cardinality terms
    (count per day = |days| groups); at 100 TB the spine stays a dim
    and the join broadcasts it. An empty corpus yields a NULL anchor
    date and a 1-row NULL-date spine over zero events, identically in
    both engines.
    """
    _views(spark, sf_dir, "events")
    return spark.sql(_RECURSIVE_SPARK_SQL)


# SQL scripting (Spark 4): the two-step analyst workflow — compute a
# corpus statistic, then query against it — as ONE compound script
# (DECLARE / SET / SELECT). The oracle runs the equivalent single
# statement with the stat as a scalar subquery; the threshold is the
# decimal-armored average (identical IEEE value in both engines), so
# the strict comparison cannot flip a boundary row.
_SCRIPT_SPARK_SQL = """
BEGIN
  DECLARE avg_price DOUBLE;
  SET avg_price = (
    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
           / COUNT(o_totalprice)
    FROM orders);
  SELECT o_orderpriority,
         COUNT(*) AS n_above,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
           AS sum_above
  FROM orders WHERE o_totalprice > avg_price
  GROUP BY o_orderpriority
  ORDER BY o_orderpriority;
END
"""

_SCRIPT_ORACLE_SQL = """
WITH t AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
         / COUNT(o_totalprice) AS avg_price
  FROM orders)
SELECT o_orderpriority,
       COUNT(*) AS n_above,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_above
FROM orders, t WHERE o_totalprice > t.avg_price
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q_sql_script", oracle=_SCRIPT_ORACLE_SQL)
def q_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 compound statements): DECLARE a session
    variable, SET it from an aggregate, use it as a query parameter —
    the migration target for stored-procedure-style analyst SQL.

    Scale notes: the variable holds ONE scalar on the driver (the
    sanctioned O(1) pattern — same class as q_join_dpp's threshold);
    the final SELECT is an ordinary optimized query with the scalar
    inlined as a literal, so pushdown/pruning behave exactly as if the
    analyst had run two statements. Scripting stays enabled only for
    this call (conf restored), and the orders scan happens twice —
    once per statement — exactly like the two-step workflow it
    replaces; a single-pass rewrite is the scalar-subquery form the
    oracle uses.
    """
    _views(spark, sf_dir, "orders")
    saved = spark.conf.get("spark.sql.scripting.enabled", "false")
    try:
        spark.conf.set("spark.sql.scripting.enabled", "true")
        return spark.sql(_SCRIPT_SPARK_SQL)
    finally:
        spark.conf.set("spark.sql.scripting.enabled", saved)


_PIPE_ORACLE_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q_sql_pipe", oracle=_PIPE_ORACLE_SQL)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators): the linear
    FROM → WHERE → JOIN → EXTEND → AGGREGATE → ORDER BY form of an
    orders-per-segment revenue rollup — the readability surface analysts
    migrating from dataframe-style notebooks use instead of nested
    SELECTs.

    Semantically identical to the classic form (the oracle IS the
    classic form): each pipe stage parses into exactly the logical node
    its keyword names, so Catalyst sees the same plan — filters still
    push into the scan, the customer join still broadcasts, the
    aggregate is still partial+final. Zero runtime cost, pure syntax;
    the plan is what proves it (same physical plan text as the ANSI
    twin). Revenue is summed in exact DECIMAL (the _util armor
    discipline) so the hash matches cross-engine.
    """
    _views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
FROM orders
|> WHERE o_orderstatus = 'F'
|> JOIN customer ON o_custkey = c_custkey
|> EXTEND CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec
|> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(price_dec) AS DOUBLE) AS revenue
   GROUP BY c_mktsegment
|> ORDER BY c_mktsegment
"""
    )


_SQL_UDF_ORACLE_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
         AS DOUBLE) AS net_revenue
FROM lineitem
WHERE l_quantity >= 30
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_sql_udf", oracle=_SQL_UDF_ORACLE_SQL)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 ``CREATE FUNCTION ... RETURN expr``):
    a scalar SQL UDF (exact-decimal net price) and a SQL TABLE function
    (quantity-filtered lineitem) composed in one aggregation — the
    reusable-logic surface that needs NO Python boundary.

    Why this beats q_udf_py's shape for shared business logic: a SQL
    UDF's body is INLINED into the calling plan during analysis, so the
    optimizer sees plain expressions — codegen applies, predicates
    still push down through the table function into the parquet scan,
    and there is no per-row (or even per-batch) serialization to a
    Python worker. Same declarative reuse, zero runtime tax. The
    oracle inlines both bodies manually, proving the inlining
    semantics. Net price is computed entirely in exact DECIMAL
    (2dp inputs — products are exact, sums order-free).
    """
    _views(spark, sf_dir, "lineitem")
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION net_dec(p DOUBLE, d DOUBLE)
RETURNS DECIMAL(22,4)
RETURN CAST(p AS DECIMAL(18,2))
       * (CAST(1.00 AS DECIMAL(3,2)) - CAST(d AS DECIMAL(3,2)))
"""
    )
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION heavy_lines(min_qty DOUBLE)
RETURNS TABLE (l_returnflag STRING, l_extendedprice DOUBLE,
               l_discount DOUBLE)
RETURN SELECT l_returnflag, l_extendedprice, l_discount
       FROM lineitem WHERE l_quantity >= min_qty
"""
    )
    return spark.sql(
        """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(net_dec(l_extendedprice, l_discount)) AS DOUBLE)
         AS net_revenue
FROM heavy_lines(30)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""
    )


_PARAMS_ORACLE_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q_sql_params", oracle=_PARAMS_ORACLE_SQL)
def q_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (`spark.sql(sql, args=...)`, Spark 3.4+ named
    markers): the threshold and status arrive as BOUND PARAMETERS, not
    string-spliced literals — the injection-safe, plan-cache-friendly
    way applications run analyst SQL with runtime values (string
    splicing is both an injection surface and a new plan text per
    value).

    The markers bind during parsing, so Catalyst sees ordinary
    literals afterwards: the price predicate still reaches
    PushedFilters, constant folding still applies — parameterization
    costs nothing at plan level (the oracle IS the literal-inlined
    form). Works for any literal type; for IN-lists bind an array +
    `array_contains`.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_totalprice > :min_price AND o_orderstatus = :status
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
        args={"min_price": 150000.0, "status": "O"},
    )


@query(
    "q_sql_identifier",
    # The oracle is the resolved query — IDENTIFIER is pure name
    # templating; after binding, Catalyst sees ordinary references.
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def q_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`IDENTIFIER(:param)` name templating (Spark 4 SQL): the TABLE
    and the GROUP column arrive as bound parameters — the
    injection-safe way multi-tenant tools template "same report, per
    table / per column" SQL, completing the q_sql_params story (that
    op binds VALUES; names cannot be value-bound, and string-splicing
    a table name is the classic injection hole IDENTIFIER closes).

    After binding, Catalyst sees ordinary references: pruning,
    pushdown, and aggregation plan exactly as the literal query (the
    oracle IS the resolved form). Dimension-sized output per status.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
SELECT IDENTIFIER(:grp) AS o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM IDENTIFIER(:tbl)
GROUP BY IDENTIFIER(:grp)
ORDER BY IDENTIFIER(:grp)
""",
        args={"tbl": "orders", "grp": "o_orderstatus"},
    )
