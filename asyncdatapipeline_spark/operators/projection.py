"""Projection / filter / null-semantics operators (SURVEY.md §2B B9-B11).

These are pure narrow transformations — no shuffle at any scale. The
interesting property to preserve is *pushdown*: the filter predicates and
the column set must reach the parquet scan (``PushedFilters`` /
``ReadSchema`` in ``.explain``), which they do because everything here is
built-in Column expressions (whole-stage-codegen'd, never Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table


@query(
    "q_project",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  l_extendedprice * (1 - l_discount) AS net_price,
  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS gross_price,
  l_quantity * 2.0 AS double_qty,
  upper(l_returnflag) AS flag_upper
FROM lineitem
WHERE l_linenumber <= 2
""",
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with aliases and computed columns (B9).

    Per-row double arithmetic is IEEE-deterministic, so no decimal
    armor is needed here — only aggregation reorders operands.
    """
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.filter(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("gross_price"),
        (F.col("l_quantity") * F.lit(2.0)).alias("double_qty"),
        F.upper("l_returnflag").alias("flag_upper"),
    )


@query(
    "q_filter",
    oracle="""
SELECT l_orderkey, l_partkey, l_quantity, l_discount, l_shipdate
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
  AND l_discount > 0.03
  AND l_returnflag IN ('A', 'R')
  AND l_linestatus LIKE 'F%'
  AND l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
""",
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates: BETWEEN / IN / LIKE / range (B10).

    All five predicates are pushdown-eligible; the parquet reader gets
    them as ``PushedFilters`` and skips row groups via min/max stats —
    at 100 TB this is the difference between scanning 100 TB and
    scanning the matching row groups only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & (F.col("l_discount") > 0.03)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_linestatus").like("F%")
        & (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_discount", "l_shipdate")


@query(
    "q_null_pred",
    oracle="""
SELECT
  e.event_id,
  e.user_id,
  nullif(e.event_type, 'click') AS non_click_type,
  nullif(e.event_type, 'click') IS NULL AS was_click,
  coalesce(nullif(e.event_type, 'click'), 'was_click') AS type_or_marker,
  json_extract_string(e.props, '$.missing') IS NULL AS no_such_key
FROM events e
WHERE e.value IS NOT NULL
""",
)
def q_null_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics: IS [NOT] NULL / coalesce / nullif (B11).

    ``nullif`` manufactures NULLs from data, exercising three-valued
    logic; ``get_json_object`` on a missing path returns NULL, same as
    DuckDB's ``json_extract_string``.
    """
    e = load_table(spark, sf_dir, "events")
    non_click = F.nullif(F.col("event_type"), F.lit("click"))
    return e.filter(F.col("value").isNotNull()).select(
        "event_id",
        "user_id",
        non_click.alias("non_click_type"),
        non_click.isNull().alias("was_click"),
        F.coalesce(non_click, F.lit("was_click")).alias("type_or_marker"),
        F.get_json_object("props", "$.missing").isNull().alias("no_such_key"),
    )


@query(
    "q_scalar_subquery",
    oracle="""
SELECT o_orderkey, o_totalprice,
  round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 4) AS vs_avg
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
ORDER BY o_orderkey
""",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery through the SQL API surface (§3 SQL entry point).

    The uncorrelated scalar subquery plans as a one-row broadcast
    (ReusedSubquery dedupes the two occurrences) — no join, no second
    scan per row. Exercises ``spark.sql`` over the registered views, the
    other half of the DataFrame/SQL dual surface.
    """
    from asyncdatapipeline_spark.sources.tables import load_table as _lt

    _lt(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
          round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 4)
            AS vs_avg
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
        ORDER BY o_orderkey
        """
    )


@query(
    "q_unpivot", scan_repair=False,
    oracle="""
SELECT l_orderkey, l_linenumber, measure, value FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
         l_quantity AS value
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
  FROM lineitem WHERE l_orderkey < 100
)
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — wide→long reshaping (relational surface).

    ``DataFrame.unpivot`` plans as a single Expand node (each input row
    emitted once per measure) — map-only, no shuffle, no join; the
    orderkey filter is pushed below the Expand into the scan. The
    portable-SQL twin is the 4-way UNION ALL, which DuckDB runs; Spark's
    Expand reads the input once where the UNION ALL form scans it four
    times.
    """
    # scan_repair=False: the operator's contract IS the map-only plan
    # (scan → Expand, zero Exchange — plan-audited); the scan repair's
    # exchange would break that shape, and the pushed orderkey filter
    # leaves ~100 rows anyway
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 100
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
