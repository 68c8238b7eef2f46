"""Aggregation operators (SURVEY.md §2B B21-B26).

All grouped aggregation runs through Spark's two-phase hash aggregate
(partial map-side combine → shuffle on the group keys → final merge) —
at 100 TB the map-side combine is what keeps the shuffle proportional to
|groups|, not |rows|. Every query here groups on low-cardinality keys, so
the shuffled data is tiny regardless of input size; skewed group keys are
handled by AQE (enabled in the session factory).

Numeric outputs use the exact-decimal-accumulate pattern from
``_util`` so results are order-independent (see that module's docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.operators._util import (
    DEC,
    bounded_part,
    davg,
    dist_cumsum,
    dsum,
    exact_pct_values,
    sql_davg,
    sql_dsum,
)
from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table


@query(
    "q_agg_hash",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_quantity', 'sum_qty')},
  {sql_dsum('l_extendedprice', 'sum_base_price')},
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  {sql_davg('l_quantity', 'avg_qty')},
  {sql_davg('l_extendedprice', 'avg_price')},
  {sql_davg('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship grouped aggregation — TPC-H-Q1 shape (SURVEY.md §7 M1).

    Filter → project → groupBy(2 low-card keys) → 8 aggregates → sort.
    The shipdate filter pushes down to the parquet scan; only the 7
    referenced columns are read (column pruning); partial aggregation
    makes the shuffle ~|groups| rows per task.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # One-row-group fixture file → ONE scan task would run every decimal
    # cast/multiply serially (measured 1.4s → 0.9s at sf0.1). Filter
    # first (stays pushed into the scan), then spread the CPU-bound
    # aggregation math (same sizing as q_dedup_minhash). At 100 TB the
    # table is thousands of splits and this repartition is dropped.
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .repartition(n_part)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_agg_distinct",
    oracle="""
SELECT
  o_orderpriority,
  COUNT(DISTINCT o_custkey) AS n_customers,
  COUNT(DISTINCT o_orderstatus) AS n_statuses,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (B22).

    Spark expands multi-distinct into an Expand + two-phase aggregate;
    the distinct keys are deduplicated map-side before the shuffle, so
    shuffle volume is ~|distinct pairs|, not |rows|.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_agg_approx",
    # HLL estimates are engine-specific, so the raw estimate can never
    # hash-match a DuckDB value. Instead the query emits the EXACT
    # distinct counts (hash-checkable) plus booleans asserting the HLL
    # estimate landed within 5% of exact — computed Spark-side in the
    # same aggregation, asserted `true` by the oracle. The driver's
    # green row therefore verifies both the exact path AND the sketch's
    # accuracy contract, strictly stronger than a rows-only check.
    oracle="""
SELECT l_returnflag,
  COUNT(DISTINCT l_orderkey) AS exact_orders,
  COUNT(DISTINCT l_partkey) AS exact_parts,
  true AS orders_within_5pct,
  true AS parts_within_5pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct via HyperLogLog++ (B23).

    At 100 TB the sketch is THE way to count distincts: fixed-size
    state per group, no distinct expansion. The exact ``countDistinct``
    twin computed alongside is the verification harness (and what the
    oracle checks) — in production only the sketch column survives;
    raw-estimate tolerance also stays covered in
    tests/test_oracle_parity.py.
    """
    li = load_table(spark, sf_dir, "lineitem")
    within = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact)) <= 0.05 * F.col(exact)
    )
    # Sketches and exact twins in SEPARATE aggregations joined on the
    # tiny group key: mixing countDistinct with approx_count_distinct in
    # one agg forces the multi-distinct Expand plan with the HLL updates
    # riding every expanded branch — measured 4.1s for the combined agg
    # vs 0.5s (sketch) + 0.8s (exact) split at sf0.1. The join is
    # |groups| rows (3 flags), broadcast, free.
    sketch = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return (
        exact.join(sketch, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            "exact_parts",
            within("approx_orders", "exact_orders").alias("orders_within_5pct"),
            within("approx_parts", "exact_parts").alias("parts_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_hll",
    # Same pattern as q_agg_approx: sketch bytes/estimates are
    # engine-specific, so the oracle checks the exact distinct plus a
    # Spark-side boolean asserting the UNIONED sketch estimate stayed
    # within 5% — i.e. the union didn't degrade accuracy.
    oracle="""
SELECT l_returnflag,
  COUNT(DISTINCT l_orderkey) AS exact_orders,
  true AS union_within_5pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches via Spark 4's datasketches functions
    (B23 extension: the re-aggregation path).

    Two-level plan that proves the property approx_count_distinct can't
    express: partial sketches built per (flag, status) cell are UNIONED
    (`hll_union_agg`) up to flag level and only then estimated. At
    100 TB this is how distincts re-aggregate — daily/partition sketches
    persist as binary columns and any coarser rollup is a cheap sketch
    union, never a rescan of the raw keys. The exact-distinct twin
    joined alongside is the verification harness (raw-estimate
    tolerance also in tests/test_oracle_parity.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk_orders")
    )
    unioned = cells.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk_orders")).alias("hll_orders")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    return (
        unioned.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("hll_orders") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("union_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_rollup",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  GROUPING(l_returnflag) AS g_flag,
  GROUPING(l_linestatus) AS g_status,
  {sql_dsum('l_quantity', 'sum_qty')},
  COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregation (B24).

    Spark implements rollup/cube via Expand (one replicated row per
    grouping set) feeding the same two-phase hash aggregate — the
    replication happens before the map-side combine so the shuffle stays
    ~|groups × sets|.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n"
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


@query(
    "q_agg_cube",
    oracle=f"""
SELECT
  o_orderstatus,
  o_orderpriority,
  GROUPING(o_orderstatus) AS g_status,
  GROUPING(o_orderpriority) AS g_prio,
  {sql_dsum('o_totalprice', 'sum_price')},
  COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over all grouping-set combinations (B24)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            dsum("o_totalprice", "sum_price"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_prio"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "g_status", "g_prio", "sum_price", "n"
        )
        .orderBy("g_status", "g_prio", "o_orderstatus", "o_orderpriority")
    )


@query(
    "q_agg_gsets",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_extendedprice', 'sum_price')},
  COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def q_agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (B24) — Catalyst produces
    the identical Expand+aggregate plan as the DataFrame rollup/cube."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT
          l_returnflag,
          l_linestatus,
          CAST(SUM(CAST(l_extendedprice AS {DEC})) AS DOUBLE) AS sum_price,
          COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


@query(
    "q_agg_filtered",
    oracle=f"""
SELECT
  l_returnflag,
  {sql_dsum("CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END",
            'discounted_revenue')},
  COUNT(CASE WHEN l_quantity >= 25 THEN 1 END) AS n_bulk,
  {sql_dsum("CASE WHEN l_tax = 0 THEN l_quantity END", 'taxfree_qty')}
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / filtered aggregation via sum(when(...)) (B25)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            dsum(
                F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(
                    F.lit(0.0)
                ),
                "discounted_revenue",
            ),
            F.count(F.when(F.col("l_quantity") >= 25, F.lit(1))).alias("n_bulk"),
            dsum(F.when(F.col("l_tax") == 0, F.col("l_quantity")), "taxfree_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_collect",
    oracle="""
SELECT
  n_regionkey,
  array_to_string(array_agg(DISTINCT n_name ORDER BY n_name), '|') AS nations
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set with deterministic ordering (B26).

    ``collect_set`` order is nondeterministic by design; ``sort_array``
    makes the output stable for the oracle. Collect aggregates must only
    ever run on bounded groups — here |nations per region| ≤ 25.

    The collected array is emitted ``array_join``-ed to a string: the
    driver's pandas canonicalizer cannot hash ndarray cells, so query
    outputs are scalar-only. Raw collect_set/sort_array semantics are
    covered in tests/test_properties.py::test_collect_set_raw_arrays.
    """
    n = load_table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_set("n_name")), "|").alias(
                "nations"
            )
        )
        .orderBy("n_regionkey")
    )


@query(
    "q_agg_stats",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
    COUNT(*) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  round(sqrt((sxx - sx*sx/n) / (n - 1)), 6) AS stddev_qty,
  round((sxy - sx*sy/n) / (n - 1), 4) AS covar_qty_price,
  round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6)
    AS corr_qty_price
FROM s
ORDER BY l_returnflag
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev / covariance / correlation per
    group (B21 extension).

    NOT ``F.stddev``/``F.corr``: their streaming-merge accumulation is
    partition-order-dependent, so Spark and DuckDB disagree in the low
    bits and the driver's value-hash flags it. Instead both sides reduce
    to exact decimal power sums (sum x, x², y, y², xy — the _util
    doctrine) and apply the closed forms; every double op after the
    exact sums is the same IEEE arithmetic in both engines. Same
    two-phase hash-agg plan shape at 100 TB — power sums combine
    map-side like any sum.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    big = "decimal(38,6)"
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum((x * x).cast(DEC)).cast("double").alias("sxx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((y * y).cast(big)).cast("double").alias("syy"),
        F.sum((x * y).cast(big)).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (
        F.col("n"), F.col("sx"), F.col("sxx"),
        F.col("sy"), F.col("syy"), F.col("sxy"),
    )
    # degenerate guards (single-row groups are routine at 100 TB): the
    # n−1 divisors and zero-variance corr denominators emit NULL, never
    # an ANSI DIVIDE_BY_ZERO (the round-8 single-row sweep's class)
    return agg.select(
        "l_returnflag",
        "n",
        F.when(
            n > 1, F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6)
        ).alias("stddev_qty"),
        F.when(
            n > 1, F.round((sxy - sx * sy / n) / (n - 1), 4)
        ).alias("covar_qty_price"),
        F.when(
            (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0),
            F.round(
                (n * sxy - sx * sy)
                / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
                6,
            ),
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "q_agg_quantile",
    oracle="""
SELECT l_returnflag,
  round(quantile_cont(l_quantity, 0.25), 6) AS q25,
  round(quantile_cont(l_quantity, 0.5), 6) AS median,
  round(quantile_cont(l_quantity, 0.75), 6) AS q75,
  round(quantile_cont(l_discount, 0.9), 6) AS disc_p90
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (B21 extension): ``percentile`` with
    linear interpolation — the same definition as DuckDB quantile_cont,
    so the oracle is strict. Exact percentile sorts within each
    (group, column) — fine for bounded groups; the approximate
    streaming path at extreme cardinality is percentile_approx
    (t-digest, engine-specific → would be a rows-only check like HLL).
    Small-magnitude columns keep interpolated doubles rounding-stable
    at 6dp across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("q25"),
            F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median"),
            F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("q75"),
            F.round(F.percentile("l_discount", F.lit(0.9)), 6).alias("disc_p90"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_pivot",
    oracle=f"""
SELECT l_returnflag,
  {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_O')},
  {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_F')}
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: rows → columns on an explicit value list (B24 family).

    The pivot values are DECLARED (``pivot(col, values)``), not
    discovered — at 100 TB value discovery is an extra full pass and a
    driver-side collect; a declared list keeps pivot a single two-phase
    aggregation, exactly the `sum(when(...))` plan the oracle spells
    out.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_approx_quantile",
    # Quantile-sketch estimates are engine-specific; the oracle checks
    # the EXACT interpolated percentiles (both engines implement the
    # standard type-7 linear interpolation; rounded to 4 decimals as
    # float armor) plus Spark-side booleans asserting the sketch landed
    # within 2% of exact.
    oracle="""
SELECT l_returnflag,
  round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median_price,
  round(quantile_cont(l_extendedprice, 0.99), 4) AS exact_p99_price,
  true AS median_within_2pct,
  true AS p99_within_2pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate grouped quantiles (B26c's unbounded-cardinality
    sibling): ``percentile_approx`` — a mergeable sketch, so the
    shuffle is O(groups·sketch), never a per-group sort. The accuracy
    knob is the last argument (10000 ≈ 0.01 %-ile error). The exact
    ``percentile`` twin computed alongside is the verification harness
    (and the oracle's hash target); in production only the sketch runs
    — an exact grouped percentile is a per-group sort. Raw-estimate
    tolerance also in tests/test_oracle_parity.py.
    """
    li = load_table(spark, sf_dir, "lineitem")
    within = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact)) <= 0.02 * F.abs(F.col(exact))
    )
    # Sketch and exact twin in separate aggregations joined on the tiny
    # group key (same rationale as q_agg_approx: the combined agg ran
    # 3.1s vs 1.6s split at sf0.1 — the sort-based exact percentile
    # drags the whole mixed aggregate onto the slow path).
    exact_agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_median_raw"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("exact_p99_raw"),
    )
    sketch = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median_price"
        ),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(10000)).alias(
            "approx_p99_price"
        ),
    )
    return (
        exact_agg.join(sketch, "l_returnflag")
        .select(
            "l_returnflag",
            F.round("exact_median_raw", 4).alias("exact_median_price"),
            F.round("exact_p99_raw", 4).alias("exact_p99_price"),
            within("approx_median_price", "exact_median_raw").alias(
                "median_within_2pct"
            ),
            within("approx_p99_price", "exact_p99_raw").alias("p99_within_2pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_mode",
    oracle="""
WITH c AS (
  SELECT l_returnflag, l_quantity, COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY l_returnflag ORDER BY n DESC, l_quantity DESC
  ) AS rn
  FROM c
)
SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n
FROM r WHERE rn = 1
""",
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent value, ties → largest value).

    Built-in ``F.mode`` breaks ties arbitrarily — useless against an
    oracle and non-reproducible across runs. Instead: count per (group,
    value), then ONE lexicographic struct-max per group — (n, value)
    max is (highest count, then highest value), computed as an ordinary
    two-phase hash agg with map-side partials. No window, no per-group
    sort; the SQL twin spells the same tie-break with row_number.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    winner = F.max(F.struct(F.col("n"), F.col("l_quantity"))).alias("w")
    return (
        counts.groupBy("l_returnflag")
        .agg(winner)
        .select(
            "l_returnflag",
            F.col("w.l_quantity").alias("mode_qty"),
            F.col("w.n").alias("mode_n"),
        )
    )


_HIST_WIDTH = 10_000  # fixed-bound config, like pivot's value list


@query(
    "q_agg_histogram",
    oracle=f"""
SELECT
  CAST(floor(l_extendedprice / {_HIST_WIDTH}) AS BIGINT) AS bucket,
  CAST(floor(l_extendedprice / {_HIST_WIDTH}) AS BIGINT) * {_HIST_WIDTH}
    AS bucket_lo,
  COUNT(*) AS n_items,
  {sql_dsum('l_extendedprice', 'sum_price')}
FROM lineitem
GROUP BY 1, 2
ORDER BY 1
""",
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice (B26d) — the
    distribution half of dataset profiling (operators/profile.py holds
    the scalar half).

    Bucket bounds are CONFIG (a literal width), not data — one pass,
    one groupBy on the derived bucket (map-side combinable, ~dozens of
    groups at any scale). The two-pass min/max-then-bucket variant is
    the data-driven alternative; fixed bounds keep the operator
    single-pass and retry-stable, exactly like pivot's declared value
    list. Integer bucket + count are exact; the per-bucket sum is
    decimal-armored.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / _HIST_WIDTH).cast("long")
    return (
        li.groupBy(
            bucket.alias("bucket"),
            (bucket * _HIST_WIDTH).alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", "sum_price"),
        )
        .orderBy("bucket")
    )


_Q3_CUT = "1998-06-01 00:00:00"


@query(
    "q_agg_topk",
    oracle=f"""
SELECT l.l_orderkey,
       {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
       o.o_orderdate, o.o_orderpriority
FROM customer c, orders o, lineitem l
WHERE c.c_mktsegment = 'BUILDING'
  AND c.c_custkey = o.o_custkey
  AND l.l_orderkey = o.o_orderkey
  AND o.o_orderdate < TIMESTAMP '{_Q3_CUT}'
  AND l.l_shipdate > TIMESTAMP '{_Q3_CUT}'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def q_agg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: top-10 highest-revenue unshipped orders in one
    segment (B33b) — aggregate THEN global top-k, the composition the
    plain top-k operators (B33: TakeOrdered over a scan) don't cover.

    Both date predicates push into their scans; the segment filter
    prunes customers before the joins; the top-k over the aggregated
    frame plans as TakeOrderedAndProject (per-task heaps over |orders|
    aggregated rows, never a global sort). Revenue ordering is
    cross-engine stable because the decimal-armored sum yields the
    identical double in both engines, with l_orderkey as tiebreak.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(_Q3_CUT).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(_Q3_CUT).cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q_winsorize",
    oracle="""
WITH bounds AS (
  SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
         round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
       round(least(greatest(l.l_extendedprice, b.lo), b.hi), 6)
         AS price_winsorized,
       l.l_extendedprice < b.lo OR l.l_extendedprice > b.hi AS clipped
FROM lineitem l JOIN bounds b USING (l_returnflag)
ORDER BY l.l_orderkey, l.l_linenumber
""",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (B26 family → cleaning): clip each row's
    value into its group's [p05, p95] band — the outlier-trimming pass
    feature pipelines run before normalization/training.

    Two-phase shape that scales: exact per-group percentiles reduce to
    a |groups|-row bounds frame (one shuffle of the value column;
    ``percentile_approx`` is the in-code swap at unbounded group
    cardinality), broadcast back onto the stream, and the clip is
    row-local codegen — the stream itself never shuffles. Same
    ``percentile`` ↔ ``quantile_cont`` type-7 interpolation contract as
    q_agg_quantile keeps the oracle strict; bounds and clipped values
    round at 6dp in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias("hi"),
    )
    p = F.col("l_extendedprice")
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_extendedprice",
            F.round(F.least(F.greatest(p, F.col("lo")), F.col("hi")), 6).alias(
                "price_winsorized"
            ),
            ((p < F.col("lo")) | (p > F.col("hi"))).alias("clipped"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q_agg_argminmax",
    # DuckDB's arg_max can't take a composite ordering key, so the
    # tiebroken extremes come from rank windows instead — same
    # (value, orderkey) lexicographic contract as the Spark struct key.
    oracle="""
WITH r AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice, o_orderstatus,
         row_number() OVER (PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
         row_number() OVER (PARTITION BY o_orderpriority
           ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
  FROM orders
)
SELECT o_orderpriority,
       max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS biggest_order,
       max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS smallest_order,
       max(o_totalprice) AS max_price,
       min(o_totalprice) AS min_price,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_orderstatus = 'F') AS any_final
FROM r
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-extrema + boolean aggregates (B21 completion):
    ``max_by``/``min_by`` (which ROW holds the extreme, not just the
    extreme value) and ``bool_and``/``bool_or`` — the "who" aggregates
    dashboards run constantly.

    Determinism contract: ``max_by``'s result is undefined under ties
    of the ordering value, so the ordering key is a STRUCT with the
    unique orderkey as tiebreaker — both engines then pick the
    identical row for duplicated prices (DuckDB's ``arg_max`` with a
    ``row(...)`` key orders structs the same lexicographic way). Plain
    two-phase hash aggregation, map-side combinable.
    """
    o = load_table(spark, sf_dir, "orders")
    key = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", key).alias("biggest_order"),
            F.min_by("o_orderkey", key).alias("smallest_order"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_totalprice").alias("min_price"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_final"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_agg_sketch_setops", scan_repair=False,
    # Sketch bytes/estimates are engine-specific (the q_agg_hll rule):
    # the oracle carries the exact set cardinalities plus Spark-side
    # booleans asserting each theta estimate stayed within tolerance.
    oracle="""
WITH a AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
),
b AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
SELECT
  (SELECT count(*) FROM a) AS exact_a,
  (SELECT count(*) FROM b) AS exact_b,
  (SELECT count(*) FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)) AS exact_union,
  (SELECT count(*) FROM a JOIN b USING (o_custkey)) AS exact_intersection,
  (SELECT count(*) FROM a ANTI JOIN b USING (o_custkey)) AS exact_difference,
  true AS union_within_5pct,
  true AS intersection_within_5pct,
  true AS difference_within_25pct
""",
)
def q_agg_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations (Spark 4 datasketches): mergeable
    distinct-count UNION / INTERSECTION / DIFFERENCE estimates across
    two customer segments — the sketch-level overlap algebra HLL cannot
    do (q_agg_hll unions only).

    The 100 TB use is cross-corpus overlap pre-flight (e.g. "how much
    of this crawl drop is already in the training set / the eval
    benchmark?"): each corpus keeps an ingest-time theta sketch of its
    doc-hash set, and any pairwise overlap or novelty estimate is
    sketch algebra on KB-sized payloads — never a distinct-join of the
    corpora. Mirroring q_agg_hll's two-level proof, each segment's
    sketch is built as per-(status, priority) PARTIAL sketches that
    ``theta_union_agg`` re-aggregates — the persist-partials-and-merge
    path — then the two segment sketches combine via ``theta_union`` /
    ``theta_intersection`` / ``theta_difference``. Exact twins computed
    alongside verify every estimate within tolerance (intersection and
    difference get wider bands than union — set-op error compounds with
    the Jaccard structure, DataSketches' documented behavior; at
    fixture scale the 4096-entry sketches are still in exact mode).
    The final algebra is a crossJoin of two 1-row frames (sanctioned
    O(1) pattern, q_join_theta rule).
    """
    o = load_table(spark, sf_dir, "orders")

    def segment(status: str, name: str) -> DataFrame:
        partials = (
            o.filter(F.col("o_orderstatus") == status)
            .groupBy("o_orderpriority")
            .agg(F.theta_sketch_agg("o_custkey").alias("sk_part"))
        )
        return partials.agg(
            F.theta_union_agg("sk_part").alias(name)
        )
    sk = segment("F", "sk_a").crossJoin(segment("O", "sk_b"))
    est = sk.select(
        F.theta_sketch_estimate(F.col("sk_a")).alias("est_a"),
        F.theta_sketch_estimate(F.col("sk_b")).alias("est_b"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("sk_a"), F.col("sk_b"))
        ).alias("est_union"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_a"), F.col("sk_b"))
        ).alias("est_intersection"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sk_a"), F.col("sk_b"))
        ).alias("est_difference"),
    )

    a_ids = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey")
    ).distinct()
    b_ids = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey")
    ).distinct()
    exact = (
        a_ids.agg(F.count(F.lit(1)).alias("exact_a"))
        .crossJoin(b_ids.agg(F.count(F.lit(1)).alias("exact_b")))
        .crossJoin(
            a_ids.union(b_ids).distinct().agg(
                F.count(F.lit(1)).alias("exact_union")
            )
        )
        .crossJoin(
            a_ids.join(b_ids, "o_custkey", "semi").agg(
                F.count(F.lit(1)).alias("exact_intersection")
            )
        )
        .crossJoin(
            a_ids.join(b_ids, "o_custkey", "anti").agg(
                F.count(F.lit(1)).alias("exact_difference")
            )
        )
    )

    def within(est, exact_col, frac):
        return F.abs(est - F.col(exact_col)) <= frac * F.col(exact_col)

    return exact.crossJoin(est).select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersection",
        "exact_difference",
        within(F.col("est_union"), "exact_union", 0.05).alias(
            "union_within_5pct"
        ),
        within(F.col("est_intersection"), "exact_intersection", 0.05).alias(
            "intersection_within_5pct"
        ),
        within(F.col("est_difference"), "exact_difference", 0.25).alias(
            "difference_within_25pct"
        ),
    )


@query(
    "q_agg_kll", scan_repair=False,
    # Sketch internals are engine-specific (the q_agg_hll /
    # q_agg_sketch_setops rule): the oracle carries the exact count and
    # exact quantiles, plus Spark-side booleans asserting the KLL
    # estimates landed within a ±10%-rank band around the exact values.
    oracle="""
SELECT l_returnflag,
  count(*) AS n_rows,
  round(quantile_cont(l_quantity, 0.5), 6) AS exact_median,
  round(quantile_cont(l_quantity, 0.95), 6) AS exact_p95,
  true AS median_rank_ok,
  true AS p95_rank_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile sketches (Spark 4 datasketches) —
    completing the sketch triad: HLL distincts (q_agg_hll), theta set
    algebra (q_agg_sketch_setops), KLL quantiles (here). This is the
    re-aggregatable alternative to exact percentiles (q_agg_quantile)
    and t-digest percentile_approx: daily/partition KLL sketches
    persist as binary columns and any coarser rollup is a sketch
    merge, never a re-sort of raw values.

    Spark ships the merge as a BINARY scalar (`kll_sketch_merge_double`),
    not a union aggregate — so the rollup collects the per-cell
    sketches per group (|linestatus| ≤ 3 KB-sized payloads) and folds
    them with `F.aggregate`: partial sketches per (flag, status) cell,
    fold-merged up to flag. The sketch's own `get_n` is emitted as the
    row count — proving the merged sketch saw every row exactly once —
    and the quantile estimates are verified inside a ±10%-rank band
    around the exact percentiles (KLL k=200 ⇒ ~1.7% rank error;
    the band is deliberately loose so the boolean is stable).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.kll_sketch_agg_double("l_quantity").alias("sk")
    )
    merged = cells.groupBy("l_returnflag").agg(
        F.collect_list("sk").alias("sks")
    )
    sk = F.aggregate(
        F.slice("sks", 2, 1_000_000),
        F.element_at("sks", 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    est = merged.select(
        "l_returnflag",
        F.kll_sketch_get_n_double(sk).alias("n_rows"),
        F.kll_sketch_get_quantile_double(sk, F.lit(0.5)).alias("est_p50"),
        F.kll_sketch_get_quantile_double(sk, F.lit(0.95)).alias("est_p95"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("exact_median"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 6).alias("exact_p95"),
        F.percentile("l_quantity", F.lit(0.4)).alias("lo50"),
        F.percentile("l_quantity", F.lit(0.6)).alias("hi50"),
        F.percentile("l_quantity", F.lit(0.85)).alias("lo95"),
        F.percentile("l_quantity", F.lit(1.0)).alias("hi95"),
    )
    return (
        est.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            "exact_median",
            "exact_p95",
            F.col("est_p50").between(F.col("lo50"), F.col("hi50")).alias(
                "median_rank_ok"
            ),
            F.col("est_p95").between(F.col("lo95"), F.col("hi95")).alias(
                "p95_rank_ok"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_bitmap",
    # Bitmaps are EXACT, so unlike the HLL/theta/KLL families the
    # sketch-derived value itself is hash-compared against the oracle —
    # no tolerance booleans needed.
    oracle="""
SELECT o_orderpriority,
  COUNT(DISTINCT o_custkey) AS n_distinct_cust,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_agg_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT re-aggregatable distinct counts via bitmap partials
    (Spark 4 bitmap functions) — the third distinct-count strategy,
    completing the triangle: countDistinct (exact, needs the raw keys
    every time), HLL (mergeable, approximate), bitmaps (mergeable AND
    exact, for dense integer keys).

    Key space is carved into 32768-bit buckets
    (``bitmap_bucket_number``); each (group, sub-group, bucket) cell
    builds a bitmap of its key positions (``bitmap_construct_agg`` —
    mergeable partial state ≤ 4 KB per cell), cross-sub-group rollup is
    ``bitmap_or_agg`` WITHIN the same bucket (bitmaps from different
    buckets must never OR — the bucket id stays a grouping key until
    the final ``bitmap_count`` + sum). At 100 TB the per-partition
    bitmaps persist next to the data like the HLL sketches, and any
    rollup (daily → monthly, per-file → per-table) is OR + popcount —
    no key ever re-shuffles. Dense surrogate keys make the bitmaps
    near-full (the efficient case); sparse 64-bit hash keys belong to
    HLL instead — that trade is the operator's point.
    """
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        "o_orderpriority",
        "o_orderstatus",
        F.bitmap_bucket_number("o_custkey").alias("bkt"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("o_custkey")).alias("bm"),
        F.count(F.lit(1)).alias("n"),
    )
    merged = cells.groupBy("o_orderpriority", "bkt").agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).alias("cnt"),
        F.sum("n").alias("n_orders_part"),
    )
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.sum("cnt").alias("n_distinct_cust"),
            F.sum("n_orders_part").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_agg_entropy",
    # Shannon entropy with the unigram-PPL ln() contract: ln rounds to
    # 9dp, each -p·ln(p) term rounds to 12dp and sums as DECIMAL, so
    # the per-group sum is order-free and hash-exact across engines.
    oracle="""
WITH c AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
),
t AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
SELECT c.source, t.tot AS n_docs,
       CAST(count(*) AS INTEGER) AS n_langs,
       round(CAST(sum(CAST(round(-(c.n * 1.0 / t.tot)
                                 * round(ln(c.n * 1.0 / t.tot), 9), 12)
                           AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy_nats,
       round(CAST(sum(CAST(round(-(c.n * 1.0 / t.tot)
                                 * round(ln(c.n * 1.0 / t.tot), 9), 12)
                           AS DECIMAL(28,12))) AS DOUBLE), 6)
         / round(ln(CAST(count(*) AS DOUBLE)), 9) AS balance
FROM c JOIN t USING (source)
GROUP BY c.source, t.tot
HAVING count(*) > 1
ORDER BY c.source
""",
)
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix (B26 family): the
    distribution-health scalar behind "is this source monolingual
    boilerplate or a healthy mix" — and, normalized by ln(k), the
    balance score (1 = uniform, →0 = collapsed) that flags dying
    categorical features and label imbalance before training does.

    Two-phase count to the (source, lang) grid, then entropy over the
    tiny grid with the unigram-PPL determinism contract (9dp-rounded
    ln, 12dp-rounded terms, decimal sum → order-free). Single-language
    sources are excluded (entropy 0 by definition, balance 0/0) —
    HAVING count(*) > 1 in both engines identically. At 100 TB the only
    raw-data pass is the (source, lang) count — map-side combinable,
    |sources|·|langs| rows out.
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n") * 1.0 / F.col("tot")
    term = F.round(-p * F.round(F.log(p), 9), 12).cast("decimal(28,12)")
    ent = F.round(F.sum(term).cast("double"), 6)
    return (
        c.join(t, "source")
        .groupBy("source", F.col("tot").alias("n_docs"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_langs"),
            ent.alias("entropy_nats"),
            (
                ent
                / F.round(
                    F.log(F.count(F.lit(1)).cast("double")), 9
                )
            ).alias("balance"),
        )
        .filter(F.col("n_langs") > 1)
        .select("source", "n_docs", "n_langs", "entropy_nats", "balance")
        .orderBy("source")
    )


@query(
    "q_agg_gini",
    # Gini over the sorted-rank formula with exact decimal sums:
    # i·x products have exactly 2 decimals (money × integer rank), so
    # the DECIMAL casts are exact and the rank-tie permutation cannot
    # perturb the sum; the closed form is the identical IEEE sequence
    # in both engines.
    oracle="""
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS i
  FROM orders
),
s AS (
  SELECT o_orderpriority, count(*) AS n,
    CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(i * o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sixi
  FROM r GROUP BY 1
)
SELECT o_orderpriority, n,
       round(2.0 * sixi / (n * sx) - (n + 1.0) / n, 6) AS gini
FROM s ORDER BY o_orderpriority
""",
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per priority class
    (B26 family): 0 = everyone spends alike, →1 = a few whales carry
    the class — the inequality scalar behind revenue-concentration
    dashboards, and for corpora the "does one source dominate the
    token budget" check (swap o_totalprice for per-source token
    counts).

    Sorted-rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over a per-group
    window rank: the only heavy step is the per-group sort, which runs
    over the grouped partitioning (the exact-quantile trade —
    documented bounded-cardinality assumption, percentile-based
    approximations are the unbounded swap). Rank ties (equal prices)
    cannot perturb the sum — i₁x + i₂x is permutation-invariant and
    the 2-decimal money × integer rank products cast to DECIMAL
    exactly.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    i = F.row_number().over(
        Window.partitionBy("o_orderpriority").orderBy(
            "o_totalprice", "o_orderkey"
        )
    )
    r = o.select("o_orderpriority", "o_totalprice", i.alias("i"))
    s = r.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sx"),
        F.sum((F.col("i") * F.col("o_totalprice")).cast(DEC))
        .cast("double")
        .alias("sixi"),
    )
    n, sx, sixi = F.col("n"), F.col("sx"), F.col("sixi")
    return s.select(
        "o_orderpriority",
        "n",
        F.round(
            F.lit(2.0) * sixi / (n * sx) - (n + F.lit(1.0)) / n, 6
        ).alias("gini"),
    ).orderBy("o_orderpriority")


@query(
    "q_agg_skewkurt",
    # Same doctrine as q_agg_stats, two moments higher: exact decimal
    # power sums (x^4 of quantities <= 50 fits DECIMAL(38,6) at any
    # fixture SF), then central-moment closed forms written as the
    # IDENTICAL IEEE expression text in both engines.
    oracle="""
WITH s AS (
  SELECT l_returnflag, count(*) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,6)))
         AS DOUBLE) AS sx3,
    CAST(sum(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                  AS DECIMAL(38,6))) AS DOUBLE) AS sx4
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  round((sx3 / n - 3 * (sx / n) * (sxx / n) + 2 * (sx / n) * (sx / n) * (sx / n))
        / power(sxx / n - (sx / n) * (sx / n), 1.5), 6) AS skewness,
  round((sx4 / n - 4 * (sx / n) * (sx3 / n)
         + 6 * (sx / n) * (sx / n) * (sxx / n)
         - 3 * (sx / n) * (sx / n) * (sx / n) * (sx / n))
        / ((sxx / n - (sx / n) * (sx / n)) * (sxx / n - (sx / n) * (sx / n)))
        - 3, 6) AS excess_kurtosis
FROM s ORDER BY l_returnflag
""",
)
def q_agg_skewkurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per group (B26b two moments
    higher): the tail-shape diagnostics that decide between q_anomaly's
    z-scores (assume ~0 skew, ~0 excess kurtosis) and q_anomaly_mad's
    robust path — run THIS first, pick the detector second.

    NOT ``F.skewness``/``F.kurtosis`` (float accumulation is
    partition-order-dependent, the q_agg_stats rule): raw power sums up
    to x⁴ in exact decimal, central-moment closed forms in the
    identical IEEE expression text in both engines. Same two-phase
    map-combinable aggregate shape as every sum.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    big = "decimal(38,6)"
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum((x * x).cast(big)).cast("double").alias("sxx"),
        F.sum((x * x * x).cast(big)).cast("double").alias("sx3"),
        F.sum((x * x * x * x).cast(big)).cast("double").alias("sx4"),
    )
    n = F.col("n")
    mean = F.col("sx") / n
    m2 = F.col("sxx") / n - mean * mean
    m3 = F.col("sx3") / n - 3 * mean * (F.col("sxx") / n) + 2 * mean * mean * mean
    m4 = (
        F.col("sx4") / n
        - 4 * mean * (F.col("sx3") / n)
        + 6 * mean * mean * (F.col("sxx") / n)
        - 3 * mean * mean * mean * mean
    )
    # zero-variance groups have no shape moments — NULL, no crash
    okm2 = m2 > 0
    return s.select(
        "l_returnflag",
        "n",
        F.when(okm2, F.round(m3 / F.pow(m2, F.lit(1.5)), 6)).alias(
            "skewness"
        ),
        F.when(okm2, F.round(m4 / (m2 * m2) - 3, 6)).alias(
            "excess_kurtosis"
        ),
    ).orderBy("l_returnflag")


@query(
    "q_agg_heavy", scan_repair=False,
    # Sketch lists are engine-specific, so the oracle checks the EXACT
    # heavy-hitter numbers (tie-free: max count and sum-of-top-5 counts
    # are multiset-determined even when ties straddle the rank-5 cut)
    # plus booleans asserting the merged sketch reproduced them. With
    # maxItemsTracked >= the per-group key cardinality the datasketches
    # frequent-items sketch never purges, so its counts are exact and
    # the booleans are deterministically true (the q_agg_hll contract).
    oracle="""
WITH c AS (
  SELECT event_type, user_id, count(*) AS c FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, c,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY c DESC, user_id) AS rk
  FROM c
)
SELECT event_type,
       CAST(max(c) AS BIGINT) AS top1_cnt,
       CAST(sum(CASE WHEN rk <= 5 THEN c ELSE 0 END) AS BIGINT)
         AS top5_cnt_sum,
       true AS sketch_top1_exact,
       true AS sketch_top5_exact
FROM r GROUP BY event_type ORDER BY event_type
""",
)
def q_agg_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters / frequency sketch (completes the mergeable-sketch
    quartet: HLL distincts, theta set-ops, KLL quantiles, frequency):
    top-5 heaviest users per event type via Spark 4.1's
    ``approx_top_k_accumulate`` / ``approx_top_k_combine`` /
    ``approx_top_k_estimate`` (datasketches frequent-items).

    Two-level plan proving the property a plain groupBy-count can't
    express: partial sketches built per (event_type, month) cell are
    COMBINED up to event_type and only then estimated — the
    persist-partials path. At 100 TB the monthly partials live as
    binary columns beside the data; any coarser rollup (quarter, year,
    all-time) is a cheap sketch combine, never a rescan of the raw
    keys. Sketch state is O(maxItemsTracked) per cell regardless of
    input rows, and combine is associative, so partials merge map-side.

    Accuracy contract: with maxItemsTracked (10k) >= per-group key
    cardinality the sketch never evicts and counts are exact — the
    booleans compare against the exact twin computed alongside. At
    cardinalities above the tracked budget the counts become
    upper-bound estimates with a documented error band and the
    booleans would switch to a tolerance form (the q_agg_approx 5%
    shape). Tie discipline: top1/top5 are count VALUES (max and
    multiset sum), never "which user" — tie selection cannot perturb
    them in either engine.
    """
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy("event_type", F.month("ts").alias("m")).agg(
        F.expr("approx_top_k_accumulate(user_id, 10000)").alias("st")
    )
    est = cells.groupBy("event_type").agg(
        F.expr("approx_top_k_estimate(approx_top_k_combine(st), 5)").alias(
            "est"
        )
    )
    est = est.select(
        "event_type",
        F.array_max(F.expr("transform(est, x -> x.count)")).alias("est_top1"),
        F.aggregate(
            F.expr("transform(est, x -> x.count)"),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("est_top5_sum"),
    )
    cnt = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    rk = cnt.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.desc("c"), "user_id")
        ),
    )
    exact = rk.groupBy("event_type").agg(
        F.max("c").alias("top1_cnt"),
        F.sum(F.when(F.col("rk") <= 5, F.col("c")).otherwise(0)).alias(
            "top5_cnt_sum"
        ),
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "top1_cnt",
            "top5_cnt_sum",
            (F.col("est_top1") == F.col("top1_cnt")).alias("sketch_top1_exact"),
            (F.col("est_top5_sum") == F.col("top5_cnt_sum")).alias(
                "sketch_top5_exact"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q_agg_percentile_disc",
    # Discrete percentiles RETURN AN ACTUAL DATA VALUE (the smallest
    # element whose cumulative fraction >= p) — no interpolation, no
    # float arithmetic, so Spark's WITHIN GROUP percentile_disc and
    # DuckDB's quantile_disc agree bit-for-bit with zero armor.
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       quantile_disc(o_totalprice, 0.25) AS p25,
       quantile_disc(o_totalprice, 0.50) AS p50,
       quantile_disc(o_totalprice, 0.90) AS p90
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (type-1) grouped percentiles via ``percentile_disc``
    WITHIN GROUP — the q_agg_quantile sibling that returns a REAL
    observed value instead of an interpolated one. The right choice
    when the percentile must be an actual row's value (a real order
    total, a real latency sample — e.g. to join back and inspect the
    row) and the only safe choice for discrete domains where
    interpolation fabricates impossible values.

    Same execution shape as the continuous form: per-group sort-based
    aggregate, one shuffle on the group key; at unbounded cardinality
    the mergeable swap is q_agg_approx_quantile's t-digest (whose
    estimate is also a real sample for percentile_approx). Being a
    selection (not arithmetic), the result is immune to summation
    order — no decimal armor, no rounding, exact cross-engine hash.
    """
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("pdisc_orders")
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
       percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
       percentile_disc(0.90) WITHIN GROUP (ORDER BY o_totalprice) AS p90
FROM pdisc_orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
    )


@query(
    "q_agg_listagg",
    # Ordered listagg is deterministic ONLY with a total order — the
    # (n_name) sort key is unique within each region, so both engines
    # emit the identical string. DuckDB's string_agg takes the same
    # ORDER BY.
    oracle="""
SELECT r.r_name AS region,
       CAST(count(*) AS BIGINT) AS n_nations,
       string_agg(n.n_name, ', ' ORDER BY n.n_name) AS nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY region
""",
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (`listagg ... WITHIN GROUP`, Spark
    4.0) — the report-formatting staple ("list the members of each
    group, comma-separated, alphabetical") analysts previously faked
    with array_join(sort_array(collect_list(...))) (q_agg_collect's
    shape; this is the ANSI form of it).

    Determinism doctrine applies with teeth: listagg WITHOUT an
    explicit WITHIN GROUP order is nondeterministic in ANY engine
    (concatenation order = arrival order); the unique-per-group sort
    key makes the output a pure function of the data. Same two-phase
    aggregate shape as collect_list — per-group state is the member
    list, fine for bounded groups, and the degenerate-group cap
    doctrine (q_funnel's slice) applies when a group can be hot.
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    n.join(r, n.n_regionkey == r.r_regionkey).createOrReplaceTempView(
        "listagg_nr"
    )
    return spark.sql(
        """
SELECT r_name AS region,
       CAST(count(*) AS BIGINT) AS n_nations,
       listagg(n_name, ', ') WITHIN GROUP (ORDER BY n_name) AS nations
FROM listagg_nr
GROUP BY r_name
ORDER BY region
"""
    )


@query(
    "q_agg_weighted_stats",
    # Quantity-weighted price stats per flag: Σw, Σwx, Σwx² in exact
    # DECIMAL (2dp inputs; widths chosen so no product exceeds 38),
    # closed forms in identical IEEE expressions, 6dp rounding.
    oracle="""
WITH c AS (
  SELECT l_returnflag,
         CAST(round(l_quantity * 100) AS BIGINT) AS wq,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS xp
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(wq) AS BIGINT) AS sw2,
         CAST(sum(wq * xp) AS BIGINT) AS swx4,
         sum(CAST(wq * xp AS DECIMAL(29,0)) * CAST(xp AS DECIMAL(8,0)))
           AS swxx6
  FROM c GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(CAST(swx4 AS DOUBLE) / 100 / CAST(sw2 AS DOUBLE), 6) AS wmean,
       round(sqrt(CAST(swxx6 AS DOUBLE) / 10000 / CAST(sw2 AS DOUBLE)
                  - (CAST(swx4 AS DOUBLE) / 100 / CAST(sw2 AS DOUBLE))
                    * (CAST(swx4 AS DOUBLE) / 100 / CAST(sw2 AS DOUBLE))),
             6) AS wstd
FROM s ORDER BY l_returnflag
""",
)
def q_agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted mean and standard deviation (quantity-weighted
    unit price per return flag) — the stats that answer "what does a
    UNIT actually cost" when rows carry different weights (unweighted
    stats over line items silently over-count small orders; same trap
    as unweighted averages over sessions or shards).

    One map-combinable pass for Σw, Σwx, Σwx² in exact DECIMAL —
    order-free, re-aggregatable (the three sums ARE the mergeable
    partial for any coarser rollup). The wx² product of three 2dp
    decimals needs width headroom: it is accumulated as swxx/10⁴
    (dropping four zero decimal places the 2dp inputs guarantee) so
    the widest product stays under DECIMAL(38) — the silent-degrade
    hazard q_embed_health documents. Closed forms are identical IEEE
    text in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Integer-cents scheme: wq = 100·quantity, xp = 100·price as exact
    # BIGINTs (round() snaps the 2dp doubles onto their grid), so
    # Σw·x = Σ(wq·xp)/10⁴ fits BIGINT and Σw·x² accumulates as
    # DECIMAL(29,0)·DECIMAL(8,0) = width 38 EXACTLY at the cap — never
    # past it (a naive decimal w·x·x product needs width 50 and both
    # engines silently degrade, the q_embed_health hazard).
    wq = F.round(F.col("l_quantity") * 100).cast("long")
    xp = F.round(F.col("l_extendedprice") * 100).cast("long")
    c = li.select("l_returnflag", wq.alias("wq"), xp.alias("xp"))
    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("wq").alias("sw2"),
        F.sum(F.col("wq") * F.col("xp")).alias("swx4"),
        F.sum(
            (F.col("wq") * F.col("xp")).cast("decimal(29,0)")
            * F.col("xp").cast("decimal(8,0)")
        ).alias("swxx6"),
    )
    swD = F.col("sw2").cast("double")
    wmean = F.col("swx4").cast("double") / 100 / swD
    wstd = F.sqrt(
        F.col("swxx6").cast("double") / 10000 / swD - wmean * wmean
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(wmean, 6).alias("wmean"),
        F.round(wstd, 6).alias("wstd"),
    ).orderBy("l_returnflag")


@query(
    "q_agg_cube_distinct",
    # The q_agg_approx contract over a CUBE: exact distincts per cell
    # (hash-checkable, grouping_id disambiguates the NULL-vs-rollup
    # ambiguity) + booleans asserting the HLL estimate landed within
    # 5% at every hierarchy level.
    oracle="""
SELECT
  CASE WHEN GROUPING(event_type) = 1 THEN NULL ELSE event_type END
    AS event_type,
  CASE WHEN GROUPING(isodow(ts) - 1) = 1 THEN NULL
       ELSE CAST(isodow(ts) - 1 AS INTEGER) END AS dow,
  CAST(GROUPING(event_type) * 2 + GROUPING(isodow(ts) - 1) AS BIGINT)
    AS gid,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
  true AS hll_within_5pct
FROM events
GROUP BY CUBE (event_type, isodow(ts) - 1)
ORDER BY gid, event_type NULLS LAST, dow NULLS LAST
""",
)
def q_agg_cube_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users across a CUBE hierarchy (event_type × day-of-week,
    all four grouping levels) with the HLL estimate verified per cell —
    the composition that matters at 100 TB: distinct counts DON'T add
    up a hierarchy (Monday's users ∪ Tuesday's users ≠ sum), so every
    rollup level classically re-scans raw keys. Sketches fix exactly
    this: persist per-leaf HLL partials and every coarser level is a
    sketch union (q_agg_hll's path) — this operator is the exact-twin
    harness for that swap, cube-shaped.

    The cube's Expand multiplies rows ×4 before the distinct — the
    documented cost (and why the sketch swap wins at scale: HLL state
    rides the Expand at fixed size, raw distinct keys ride it at key
    cardinality). grouping_id keys the levels so a NULL group value is
    never confused with the rollup row (the classic cube footgun).
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", F.weekday("ts").alias("dow"), "user_id"
    )
    cube = base.cube("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("hll_users"),
        F.grouping_id().alias("gid"),
    )
    return (
        cube.select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            F.col("gid").cast("long").alias("gid"),
            "n_events",
            "exact_users",
            (
                F.abs(F.col("hll_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("hll_within_5pct"),
        )
        .orderBy("gid", F.col("event_type").asc_nulls_last(), F.col("dow").asc_nulls_last())
    )


@query(
    "q_agg_ttest",
    # Per-type exact decimal power sums -> one identical IEEE closed
    # form per pair (Welch t + Satterthwaite df). The pair frame is
    # types x types — dimension-sized.
    oracle="""
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS na, b.n AS nb,
         a.sx / a.n AS ma, b.sx / b.n AS mb,
         (a.sxx - a.sx * a.sx / a.n) / (a.n - 1) AS va,
         (b.sxx - b.sx * b.sx / b.n) / (b.n - 1) AS vb
  FROM s a JOIN s b ON a.event_type < b.event_type
)
SELECT type_a, type_b, na, nb,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
       round(((va / na + vb / nb) * (va / na + vb / nb))
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)), 4) AS welch_df,
       abs((ma - mb) / sqrt(va / na + vb / nb)) > 1.96 AS significant
FROM p ORDER BY type_a, type_b
""",
)
def q_agg_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test between every pair of event types on
    ``value`` — the A/B-test primitive (q_ts_conversion_ci intervals a
    PROPORTION; this tests a MEAN difference under unequal variances,
    the default experiment readout). Emits t statistic, Satterthwaite
    df, and the |t| > 1.96 significance flag per pair.

    Scale shape: one partial-aggregated pass reduces events to per-type
    (n, Σx, Σx²) in exact DECIMAL (q_agg_stats doctrine — streaming
    variance merges are partition-order-dependent; power sums are not),
    then the pair frame is types × types — dimension-sized — and every
    double op after the exact sums is the same IEEE closed form in both
    engines. Adding a group key (experiment id, cohort) keeps the same
    two-phase plan.
    """
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("sx"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    a, b = s.alias("a"), s.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    ma, mb = F.col("a.sx") / na, F.col("b.sx") / nb
    va = (F.col("a.sxx") - F.col("a.sx") * F.col("a.sx") / na) / (na - 1)
    vb = (F.col("b.sxx") - F.col("b.sx") * F.col("b.sx") / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    df = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    return (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            na.alias("na"),
            nb.alias("nb"),
            F.round(ma, 6).alias("mean_a"),
            F.round(mb, 6).alias("mean_b"),
            F.round(t, 6).alias("t_stat"),
            F.round(df, 4).alias("welch_df"),
            (F.abs(t) > 1.96).alias("significant"),
        )
        .orderBy("type_a", "type_b")
    )


# Deterministic Poisson(1) bootstrap weights from one md5 byte:
# P(0)=94/256, P(1)=94/256, P(2)=47/256, P(3)=16/256, P(4)=5/256 —
# the integer-threshold approximation of e^-1/k!. Same byte, same
# weight, in both engines.
_BOOT_B = 32
_BOOT_THRESH = (94, 188, 235, 251)


def _boot_weight_sql(u: str) -> str:
    t = _BOOT_THRESH
    return (
        f"CASE WHEN {u} < {t[0]} THEN 0 WHEN {u} < {t[1]} THEN 1 "
        f"WHEN {u} < {t[2]} THEN 2 WHEN {u} < {t[3]} THEN 3 ELSE 4 END"
    )


@query(
    "q_agg_bootstrap",
    oracle=f"""
WITH rep AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         b.b,
         {_boot_weight_sql("('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)), 1, 2))::UINTEGER")} AS w
  FROM orders
  CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) b
),
means AS (
  SELECT o_orderpriority, b,
         CAST(sum(w * price) AS DOUBLE) / sum(w) AS m
  FROM rep GROUP BY 1, 2
),
mi AS (
  SELECT o_orderpriority, b, m,
         CAST(round(m * 1000) AS BIGINT) AS m3
  FROM means
),
ci AS (
  SELECT o_orderpriority,
         round(quantile_cont(m, 0.025), 6) AS ci_lo,
         round(quantile_cont(m, 0.975), 6) AS ci_hi,
         CAST(count(*) AS BIGINT) AS n_replicates,
         CAST(sum(m3) AS BIGINT) AS s1,
         CAST(sum(m3 * m3) AS BIGINT) AS s2
  FROM mi GROUP BY 1
),
pt AS (
  SELECT o_orderpriority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           / count(*) AS est
  FROM orders GROUP BY 1
)
SELECT p.o_orderpriority,
       round(p.est, 6) AS mean_price,
       c.ci_lo, c.ci_hi, c.n_replicates,
       round(sqrt((CAST(c.s2 AS DOUBLE)
                   - CAST(c.s1 AS DOUBLE) * c.s1 / c.n_replicates)
                  / (c.n_replicates - 1)) / 1000.0, 6) AS boot_se
FROM pt p JOIN ci c ON c.o_orderpriority = p.o_orderpriority
ORDER BY p.o_orderpriority
""",
)
def q_agg_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order price per priority,
    computed DISTRIBUTED and DETERMINISTIC: 32 Poisson(1) resampling
    replicates whose per-row weights come from one md5 byte of
    (key, replicate) — no rand() (re-rolls under task retry), no
    driver-side resampling loop, no collect. The uncertainty primitive
    for metrics with no closed-form SE (medians, ratios, funnels plug
    into the same harness; q_agg_ttest covers the closed-form case).

    Scale shape: the explode is the honest price — x32 rows through
    ONE partial-aggregated shuffle keyed (group, replicate), weighted
    sums in exact DECIMAL (weights are small ints, so w·price stays
    exact). Replicate means then reduce per group: the CI is two
    sort-based percentiles over 32 values per group, and the bootstrap
    SE goes through milli-unit INTEGER power sums (summing 32 raw
    doubles would be partition-order-dependent). At 100 TB you dial B
    down or Poisson-subsample rows first; the plan shape is unchanged.
    """
    o = load_table(spark, sf_dir, "orders")
    reps = spark.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                ).cast("binary")
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("int")
    t = _BOOT_THRESH
    w = (
        F.when(u < t[0], 0)
        .when(u < t[1], 1)
        .when(u < t[2], 2)
        .when(u < t[3], 3)
        .otherwise(4)
    )
    rep = o.crossJoin(F.broadcast(reps)).select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        "b",
        w.alias("w"),
    )
    means = (
        rep.groupBy("o_orderpriority", "b")
        .agg(
            F.sum(F.col("w") * F.col("price")).cast("double").alias("swx"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)  # a replicate can draw all-zero
        # weights on tiny groups — it contributes no mean, not a crash
        .select(
            "o_orderpriority",
            "b",
            (F.col("swx") / F.col("sw")).alias("m"),
        )
        .withColumn("m3", F.round(F.col("m") * 1_000).cast("long"))
    )
    ci = means.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
        F.count(F.lit(1)).alias("n_replicates"),
        F.sum("m3").cast("long").alias("s1"),
        F.sum(F.col("m3") * F.col("m3")).cast("long").alias("s2"),
    )
    pt = o.groupBy("o_orderpriority").agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("est")
    )
    s1, s2, n = F.col("s1"), F.col("s2"), F.col("n_replicates")
    return (
        pt.join(ci, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.round(F.col("est"), 6).alias("mean_price"),
            "ci_lo",
            "ci_hi",
            "n_replicates",
            F.when(
                n > 1,
                F.round(
                    F.sqrt(
                        (s2.cast("double") - s1.cast("double") * s1 / n)
                        / (n - 1)
                    )
                    / 1_000.0,
                    6,
                ),
            ).alias("boot_se"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_agg_mannwhitney",
    # Midranks are exact: rank() gives the first position of a tie run,
    # count() over the value gives its length, midrank = rank +
    # (len-1)/2 — halves at worst, summed as DOUBLED integers so every
    # accumulation is exact BIGINT; the z statistic is one closed form.
    oracle="""
WITH t AS (
  SELECT event_type, value FROM events
  WHERE event_type IN ('purchase', 'view')
),
r AS (
  SELECT event_type,
         rank() OVER (ORDER BY value) AS rk,
         count(*) OVER (PARTITION BY value) AS tie_n
  FROM t
),
s AS (
  SELECT
    CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN 2 * rk + tie_n - 1 ELSE 0 END) AS BIGINT) AS r2a,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS na,
    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
      AS nb
  FROM r
)
SELECT 'purchase' AS type_a, 'view' AS type_b, na, nb,
       round(CAST(r2a AS DOUBLE) / 2
             - CAST(na AS DOUBLE) * (na + 1) / 2, 1) AS u_stat,
       round((CAST(r2a AS DOUBLE) / 2
              - CAST(na AS DOUBLE) * (na + 1) / 2
              - CAST(na AS DOUBLE) * nb / 2)
             / sqrt(CAST(na AS DOUBLE) * nb * (na + nb + 1) / 12), 6) AS z,
       abs((CAST(r2a AS DOUBLE) / 2
            - CAST(na AS DOUBLE) * (na + 1) / 2
            - CAST(na AS DOUBLE) * nb / 2)
           / sqrt(CAST(na AS DOUBLE) * nb * (na + nb + 1) / 12)) > 1.96
         AS significant
FROM s
""",
)
def q_agg_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test (purchase vs view values): the RANK-based
    two-sample test — q_agg_ttest's robust twin exactly as
    q_ts_theilsen is q_agg_trend's (a mean test follows outliers; a
    rank test follows the bulk; run both and a disagreement IS the
    finding — the distribution is skewed). Midrank ties handled
    exactly; normal-approximation z without tie correction, documented
    (ties here are float values — rare — and the correction only
    shrinks an already-extreme denominator term).

    Scale shape (distributed-exact, round 7): the doubled midrank
    2·rank + tie_len − 1 is always BIGINT (rank + (tie_len−1)/2 can
    be a half; half-valued double sums would be the usual low-bit
    lottery) and depends only on the VALUE — so the rank-sum is
    computed on the DISTINCT value spine: groupBy(value) with
    per-group and tie counts → exact cumulative tie counts via
    ``dist_cumsum`` (range-partition + offsets, no data-sized
    single-partition WindowExec; the old global ``W.orderBy(value)``
    rank window is gone) → rx2(v) = 2·cum − tie + 1, rank-sum =
    Σ a_tie(v)·rx2(v). Everything after is one closed form. The
    sketch form for >>|distinct| corpora is q_agg_mannwhitney_kll.
    """
    e = load_table(spark, sf_dir, "events")
    is_a = F.col("event_type") == "purchase"
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        "value", F.when(is_a, 1).otherwise(0).alias("ga")
    )
    g = t.groupBy("value").agg(
        F.sum("ga").alias("a_tie"), F.count(F.lit(1)).alias("tie")
    )
    g = dist_cumsum(g, "value", ["tie"])
    rx2 = 2 * F.col("cum_tie") - F.col("tie") + 1
    s = g.agg(
        F.sum(F.col("a_tie") * rx2).cast("long").alias("r2a"),
        F.sum("a_tie").cast("long").alias("na"),
        F.sum(F.col("tie") - F.col("a_tie")).cast("long").alias("nb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    u = F.col("r2a").cast("double") / 2 - na * (na + 1) / 2
    z = (u - na * nb / 2) / F.sqrt(na * nb * (na + nb + 1) / 12)
    return s.select(
        F.lit("purchase").alias("type_a"),
        F.lit("view").alias("type_b"),
        F.col("na"),
        F.col("nb"),
        F.round(u, 1).alias("u_stat"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


@query(
    "q_agg_reach",
    # The oracle recomputes the EXACT expanding distinct count (cheap
    # at oracle SF); the sketch estimate is checked by the same
    # contract as q_agg_hll: exact twin + in-query tolerance boolean,
    # never a raw estimate compared across engines.
    oracle="""
WITH uw AS (
  SELECT DISTINCT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
         user_id
  FROM events
),
wks AS (SELECT DISTINCT week FROM uw),
cum AS (
  SELECT w.week,
         CAST(count(DISTINCT u.user_id) AS BIGINT) AS reach_exact,
         CAST((SELECT count(DISTINCT user_id) FROM uw u2
               WHERE u2.week = w.week) AS BIGINT) AS weekly_users
  FROM wks w JOIN uw u ON u.week <= w.week
  GROUP BY w.week
)
SELECT week, weekly_users, reach_exact, true AS est_within_5pct
FROM cum ORDER BY week
""",
)
def q_agg_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative reach curve: distinct users ever seen, per week —
    the campaign/adoption metric where the EXPANDING distinct is the
    trap (exact cumulative distinct re-deduplicates all history every
    week; at 100 TB that is a full re-shuffle per period). The scale
    path is mergeable HLL SKETCH PARTIALS: one sketch per week (a
    partial-aggregated pass), then the cumulative union folds
    week-sketches — bytes, not user sets — so extending the curve by a
    week touches one new week of data plus W fixed-size sketches
    (persist them and it's the q_agg_incremental rollup pattern
    applied to distincts).

    Per the q_agg_hll contract the sketch estimate never crosses
    engines raw: the output carries the EXACT cumulative count (the
    oracle-checked truth, affordable at oracle SF), the weekly exact
    count, and an in-query tolerance boolean asserting the HLL
    estimate landed within 5% of truth (lgK=12 ⇒ ~1.6% expected).
    The union fold is a driver-side loop over WEEKS (a few dozen
    scalars), not data — each week's sketch is one binary cell.
    """
    e = load_table(spark, sf_dir, "events")
    wk = F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week")
    sketches = (
        e.select(wk, "user_id")
        .groupBy("week")
        .agg(
            F.expr("hll_sketch_agg(user_id, 12)").alias("sk"),
            F.countDistinct("user_id").alias("weekly_users"),
        )
    )
    # Cumulative union via a running window over the tiny weeks frame:
    # hll_union_agg over an expanding frame folds the per-week sketches.
    sketches.createOrReplaceTempView("reach_sketches")
    spark_cum = spark.sql(
        """
SELECT week, weekly_users,
       hll_sketch_estimate(
         hll_union_agg(sk) OVER (
           PARTITION BY CASE WHEN weekly_users >= 0 THEN 0
                             WHEN weekly_users < 0 THEN 0
                             WHEN weekly_users IS NULL THEN 0 END
           ORDER BY week
           ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW)) AS reach_est
FROM reach_sketches
"""
    )
    uw = e.select(wk, "user_id").distinct()
    exact = (
        uw.alias("u")
        .join(
            uw.select("week").distinct().alias("w"),
            F.col("u.week") <= F.col("w.week"),
        )
        .groupBy(F.col("w.week").alias("week"))
        .agg(F.countDistinct(F.col("u.user_id")).alias("reach_exact"))
    )
    return (
        spark_cum.join(exact, "week")
        .select(
            "week",
            F.col("weekly_users").cast("long").alias("weekly_users"),
            F.col("reach_exact").cast("long").alias("reach_exact"),
            (
                F.abs(F.col("reach_est") - F.col("reach_exact"))
                <= 0.05 * F.col("reach_exact")
            ).alias("est_within_5pct"),
        )
        .orderBy("week")
    )


@query(
    "q_agg_anova",
    # Group power sums in exact DECIMAL -> SSB/SSW by identical IEEE
    # closed forms; F-statistic + the 1%-level flag (F crit ~ 3.32 at
    # (4, inf) df — conservative constant shared by both engines).
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
),
t AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
         CAST(count(*) AS BIGINT) AS k,
         sum(sx) AS sx_tot,
         sum(sxx) AS sxx_tot,
         sum(sx * sx / n) AS sgm
  FROM g
)
SELECT n_tot, k,
       round(sgm - sx_tot * sx_tot / n_tot, 6) AS ss_between,
       round(sxx_tot - sgm, 6) AS ss_within,
       round(((sgm - sx_tot * sx_tot / n_tot) / (k - 1))
             / ((sxx_tot - sgm) / (n_tot - k)), 6) AS f_stat,
       ((sgm - sx_tot * sx_tot / n_tot) / (k - 1))
         / ((sxx_tot - sgm) / (n_tot - k)) > 3.32 AS significant
FROM t
""",
)
def q_agg_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across ALL event types on ``value``: does the
    metric differ anywhere among k groups — the >2-group extension of
    the testing family (q_agg_ttest compares one pair; running k²
    pairwise t-tests inflates false positives — ANOVA is the gate you
    run FIRST, then pairwise only if F rejects).

    Scale shape: one partial-aggregated pass to per-group (n, Σx, Σx²)
    in exact DECIMAL (the q_agg_stats doctrine), then the k-row frame
    folds to total sums and the between/within decomposition — every
    double op after the exact sums is one identical IEEE closed form.
    The second-level fold sums k per-group doubles — k is the group
    count (5 here), a dimension, so partition-order drift cannot occur
    (single-partition fold); at huge k the same sums go through the
    milli-unit integer trick (q_agg_bootstrap).
    """
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("sx"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("sxx"),
    ).coalesce(1)
    t = g.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sx").alias("sx_tot"),
        F.sum("sxx").alias("sxx_tot"),
        F.sum(F.col("sx") * F.col("sx") / F.col("n")).alias("sgm"),
    )
    n_tot, k = F.col("n_tot").cast("double"), F.col("k").cast("double")
    ssb = F.col("sgm") - F.col("sx_tot") * F.col("sx_tot") / n_tot
    ssw = F.col("sxx_tot") - F.col("sgm")
    # degenerate guards: k=1 group or n=k (one row per group) zeroes a
    # df; ssw=0 (perfect separation) zeroes the denominator — NULL F,
    # never an ANSI division crash (round-8 single-row sweep)
    ok = (k > 1) & (n_tot > k) & (ssw > 0)
    f = (ssb / (k - 1)) / (ssw / (n_tot - F.col("k")))
    return t.select(
        "n_tot",
        "k",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.when(ok, F.round(f, 6)).alias("f_stat"),
        F.when(ok, f > 3.32).otherwise(F.lit(False)).alias("significant"),
    )


@query(
    "q_agg_spearman",
    # Midranks via the doubled-integer trick (2*rank + ties - 1, always
    # BIGINT; q_agg_mannwhitney's device) on BOTH axes, then Pearson on
    # the doubled ranks from exact BIGINT power sums — scale factors
    # cancel in the correlation, so doubling costs nothing.
    oracle="""
WITH t AS (
  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
),
r AS (
  SELECT
    2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1
      AS rx2,
    2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1
      AS ry2
  FROM t
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
         CAST(sum(rx2 * rx2) AS HUGEINT) AS sxx,
         CAST(sum(ry2 * ry2) AS HUGEINT) AS syy,
         CAST(sum(rx2 * ry2) AS HUGEINT) AS sxy
  FROM r
)
SELECT n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS spearman_rho
FROM s
""",
)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price — the
    robust twin of q_agg_stats' Pearson (Pearson measures LINEAR
    association and follows outliers; Spearman measures MONOTONE
    association on ranks and doesn't — disagreement between them says
    the relationship is nonlinear or outlier-driven, which IS the
    finding). Completes the robust-statistics family: q_ts_theilsen
    for trend, q_agg_mannwhitney for location, this for association.

    Scale shape (distributed-exact, round 7): a doubled midrank
    2·rank + tie_len − 1 (always BIGINT; the ×2 cancels in rho)
    depends only on the VALUE, so ranks are computed on the DISTINCT
    value spine, not the rows: per-axis distinct-value counts → exact
    cumulative counts via ``dist_cumsum`` (range-partition +
    per-bucket offsets — no data-sized single-partition WindowExec;
    rx2 = 2·cum − tie + 1). The x axis (quantity) is the BOUNDED one
    (≤50 distinct values — a dimension): its spine partial-aggregates
    map-side out of a raw scan, and its rank map is BROADCAST onto
    the raw rows and immediately FOLDED per y — the ONLY data-sized
    exchange in the query is that y groupBy, and the unbounded price
    axis never joins a second data-sized frame (round 7 follow-up:
    the first distributed form joined both rank maps onto a full
    (x,y)-cell frame; r12 removed the cell frame itself — y is
    near-unique, so pre-grouping cost a data-sized exchange plus a
    data-sized localCheckpoint pin without reducing anything). sxx
    comes from the 50-row x map alone; sy/syy/sxy from the per-y
    fold; all count-weighted power sums in exact DECIMAL. The sketch
    form for >>|distinct| corpora is q_agg_spearman_kll.
    """
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y"))
    # r12 perf pass: the old form pre-grouped t into (x, y, cnt) cells
    # and shared that frame between the x spine and the per-y fold. But
    # y (price) is NEAR-UNIQUE, so the cell groupBy barely reduced
    # cardinality — it cost a full data-sized exchange plus a
    # data-sized localCheckpoint pin for a frame the size of its input.
    # With x BOUNDED (≤50 distinct quantities), the x spine partial-
    # aggregates map-side out of a raw scan (a ~50-row shuffle), and
    # the per-y fold groups the raw frame directly — identical sums,
    # one data-sized exchange TOTAL (the y groupBy), no data-sized
    # checkpoint. Cost moved to a second column-pruned scan of t
    # (x only / x+y), which at any scale is cheaper than shuffling and
    # pinning a near-data-sized frame. Measured sf0.1: 4.7 → 3.85 s
    # warm, rows identical.
    xs = t.groupBy("x").agg(F.count(F.lit(1)).alias("tx"))
    xs = dist_cumsum(xs, "x", ["tx"]).select(
        "x",
        "tx",
        (2 * F.col("cum_tx") - F.col("tx") + 1).cast("long").alias("rx2"),
    ).localCheckpoint(eager=False)  # ≤|distinct x| rows, used twice
    big = "decimal(38,0)"
    # n / sx / sxx live entirely on the dimension-sized x rank map.
    xstat = xs.agg(
        F.sum("tx").cast("long").alias("n"),
        F.sum(F.col("tx").cast(big) * F.col("rx2").cast(big)).alias("sx"),
        F.sum(
            F.col("tx").cast(big)
            * F.col("rx2").cast(big)
            * F.col("rx2").cast(big)
        ).alias("sxx"),
    )
    # Fold the broadcast x ranks per y on the RAW frame: ty and Σ rx2 —
    # after this no frame larger than |distinct y| exists in the plan.
    #
    # r13 perf pass (guide §2.4 "two operations keyed the same way can
    # share one exchange"): the dist_cumsum(ycell) form paid TWO
    # near-data-sized exchanges (the y groupBy, then the device's _pid
    # hash for its offset window) plus a near-data-sized localCheckpoint
    # pin of ycell (the device evaluates its input for boundaries /
    # per-bucket totals / the main path). The fused spine below derives
    # everything the device computed from the RAW frame instead:
    #
    # - bucket BOUNDARIES from a map-side GK sketch over raw y (any
    #   deterministic value→bucket map is exact; equi-depth over raw
    #   rows ≈ over distinct values since y is near-unique);
    # - per-bucket OFFSETS from a map-side count of raw rows per bucket
    #   (Σ ty over the bucket's distinct values IS the bucket's raw row
    #   count) + the device's triangular broadcast prefix;
    # - the main path repartitions by _pid ONCE: the (_pid, y) groupBy
    #   and the _pid-partitioned running window both reuse that single
    #   exchange (ClusteredDistribution satisfied by the _pid hash), so
    #   ONE data-sized exchange total and NO data-sized checkpoint.
    #
    # _YNP = 32 buckets, matching dist_cumsum: the bucket id is a
    # per-row aggregate() fold over the boundary array, so its length
    # IS the per-row cost of both bucket-computing passes — a 256-entry
    # array (tried first for key spread, guide §2.5) measured the whole
    # query at 1.17× in the interleaved two-tree A/B purely from the
    # 8× fold. At 32 the fold cost matches the old device's exactly and
    # the win is the removed exchange + removed checkpoint.
    _YNP = 32
    yproxy = F.col("y").cast("double")
    ybnds = t.agg(
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.coalesce(
                        F.percentile_approx(
                            yproxy,
                            F.array(
                                *[
                                    F.lit(i / _YNP)
                                    for i in range(1, _YNP)
                                ]
                            ),
                            F.lit(10_000),
                        ),
                        F.array(),
                    ),
                    lambda b: b.isNotNull(),
                )
            )
        ).alias("_bnds")
    )
    ybucket = F.when(
        F.size("_bnds") > 0,
        F.aggregate(
            "_bnds",
            F.lit(0),
            lambda acc, b: acc + F.when(yproxy > b, 1).otherwise(0),
        ),
    ).otherwise(bounded_part(yproxy))
    yper = (
        t.crossJoin(F.broadcast(ybnds))
        .groupBy(ybucket.alias("_pid"))
        .agg(F.count(F.lit(1)).alias("_t"))
    )
    yoffs = (
        yper.alias("a")
        .join(
            F.broadcast(yper.alias("b")),
            F.col("b._pid") < F.col("a._pid"),
            "left",
        )
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._t"), F.lit(0)).alias("_o"))
    )
    ycell = (
        t.join(F.broadcast(xs.select("x", "rx2")), "x")
        .crossJoin(F.broadcast(ybnds))
        .withColumn("_pid", ybucket)
        .repartition(F.col("_pid"))
        .groupBy("_pid", "y")
        .agg(
            F.count(F.lit(1)).alias("ty"),
            F.sum(F.col("rx2").cast(big)).alias("a1"),
        )
        .join(F.broadcast(yoffs), "_pid")
    )
    ywin = (
        W.partitionBy("_pid")
        .orderBy("y")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ys = ycell.select(
        "y",
        "ty",
        "a1",
        (F.sum("ty").over(ywin) + F.col("_o")).alias("cum_ty"),
    )
    ry2 = (2 * F.col("cum_ty") - F.col("ty") + 1).cast("long").cast(big)
    ystat = ys.agg(
        F.sum(F.col("ty").cast(big) * ry2).alias("sy"),
        F.sum(F.col("ty").cast(big) * ry2 * ry2).alias("syy"),
        F.sum(F.col("a1") * ry2).alias("sxy"),
    )
    s = xstat.crossJoin(ystat)
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    # all-tied axes (single row / constant column) zero a rank
    # variance — rho undefined, never an ANSI crash
    okr = (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0)
    rho = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return s.select(
        F.col("n"), F.when(okr, F.round(rho, 6)).alias("spearman_rho")
    )


@query(
    "q_ml_linreg",
    # Nine power sums in exact DECIMAL -> Cramer's rule for the 3x3
    # normal equations in identical IEEE doubles; singular designs
    # yield NULL coefficients via an exact-zero determinant guard
    # (|det| tiny-but-nonzero is fine: both engines compute the SAME
    # double, so the guard agrees).
    oracle="""
WITH s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx1,
         CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sx2,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
              AS DOUBLE) AS s11,
         CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,6)))
              AS DOUBLE) AS s22,
         CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
              AS DOUBLE) AS s12,
         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS s1y,
         CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS s2y,
         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS syy
  FROM lineitem
),
d AS (
  SELECT *,
         n * (s11 * s22 - s12 * s12)
         - sx1 * (sx1 * s22 - s12 * sx2)
         + sx2 * (sx1 * s12 - s11 * sx2) AS det
  FROM s
),
b AS (
  SELECT *,
         (sy * (s11 * s22 - s12 * s12)
          - sx1 * (s1y * s22 - s12 * s2y)
          + sx2 * (s1y * s12 - s11 * s2y)) / det AS b0,
         (n * (s1y * s22 - s12 * s2y)
          - sy * (sx1 * s22 - s12 * sx2)
          + sx2 * (sx1 * s2y - s1y * sx2)) / det AS b1,
         (n * (s11 * s2y - s1y * s12)
          - sx1 * (sx1 * s2y - s1y * sx2)
          + sy * (sx1 * s12 - s11 * sx2)) / det AS b2
  FROM d WHERE det != 0
)
SELECT CAST(n AS BIGINT) AS n,
       round(b0, 6) AS beta0, round(b1, 6) AS beta1,
       round(b2, 6) AS beta2,
       round(1 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
               / (syy - sy * sy / n), 6) AS r2
FROM b
""",
)
def q_ml_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple linear regression: extendedprice ~ quantity
    + discount, solved exactly via the 3x3 normal equations (Cramer's
    rule) — q_agg_trend generalized beyond one regressor, and the "ML
    in SQL" shape that covers most tabular regression asks without an
    ML runtime: ONE aggregate pass produces nine power sums; the fit
    is arithmetic on a single row.

    Scale shape: the only data-sized work is one partial-aggregated
    pass accumulating the sums in exact DECIMAL (order-free — the
    Gram matrix is a sum of rank-1 updates and decimal addition
    commutes); solving happens on ONE row in identical IEEE doubles,
    so no distributed linear algebra, no iteration, no learning rate.
    k regressors cost (k+1)(k+2)/2 sums and a k+1-determinant — the
    closed form stays practical to k~5, after which you want an
    actual solver. Singular designs (constant regressor, collinear
    pair) hit the determinant guard and yield no fit row rather than
    garbage coefficients. R² from the same sums, no second pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    big = "decimal(38,6)"
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1.cast(DEC)).cast("double").alias("sx1"),
        F.sum(x2.cast(DEC)).cast("double").alias("sx2"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x1 * x1).cast(big)).cast("double").alias("s11"),
        F.sum((x2 * x2).cast(big)).cast("double").alias("s22"),
        F.sum((x1 * x2).cast(big)).cast("double").alias("s12"),
        F.sum((x1 * y).cast(big)).cast("double").alias("s1y"),
        F.sum((x2 * y).cast(big)).cast("double").alias("s2y"),
        F.sum((y * y).cast(big)).cast("double").alias("syy"),
    )
    n, sx1, sx2, sy = (F.col(c) for c in ("n", "sx1", "sx2", "sy"))
    s11, s22, s12 = (F.col(c) for c in ("s11", "s22", "s12"))
    s1y, s2y, syy = (F.col(c) for c in ("s1y", "s2y", "syy"))
    det = (
        n * (s11 * s22 - s12 * s12)
        - sx1 * (sx1 * s22 - s12 * sx2)
        + sx2 * (sx1 * s12 - s11 * sx2)
    )
    b0 = (
        sy * (s11 * s22 - s12 * s12)
        - sx1 * (s1y * s22 - s12 * s2y)
        + sx2 * (s1y * s12 - s11 * s2y)
    ) / det
    b1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (sx1 * s22 - s12 * sx2)
        + sx2 * (sx1 * s2y - s1y * sx2)
    ) / det
    b2 = (
        n * (s11 * s2y - s1y * s12)
        - sx1 * (sx1 * s2y - s1y * sx2)
        + sy * (sx1 * s12 - s11 * sx2)
    ) / det
    return (
        s.withColumn("det", det)
        .filter(F.col("det") != 0)
        .select(
            F.col("n").cast("long").alias("n"),
            F.round(b0, 6).alias("beta0"),
            F.round(b1, 6).alias("beta1"),
            F.round(b2, 6).alias("beta2"),
            F.round(
                1 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / (syy - sy * sy / n),
                6,
            ).alias("r2"),
        )
    )


@query(
    "q_agg_mutual_info",
    # Every ln argument is an exact integer ratio; each ln rounds to
    # 9dp and the WEIGHTED sums run in DECIMAL (integer weight x
    # 12dp decimal is exact) — the unigram-ppl ln-contract applied to
    # information measures. dow from integer epoch-day arithmetic.
    oracle="""
WITH t AS (
  SELECT event_type AS a,
         (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 4) % 7
           AS b
  FROM events
),
c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
ra AS (SELECT a, sum(n) AS na FROM c GROUP BY a),
rb AS (SELECT b, sum(n) AS nb FROM c GROUP BY b),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
mi AS (
  SELECT CAST(sum(c.n * CAST(round(ln(CAST(tot.nn AS DOUBLE) * c.n
                                     / (ra.na * rb.nb)), 9)
                             AS DECIMAL(28,12))) AS DOUBLE)
           / (SELECT nn FROM tot) AS mi_nats
  FROM c JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN tot
),
ha AS (
  SELECT CAST(sum(na * CAST(round(ln(CAST(tot.nn AS DOUBLE) / na), 9)
                            AS DECIMAL(28,12))) AS DOUBLE)
           / (SELECT nn FROM tot) AS h_type
  FROM ra CROSS JOIN tot
),
hb AS (
  SELECT CAST(sum(nb * CAST(round(ln(CAST(tot.nn AS DOUBLE) / nb), 9)
                            AS DECIMAL(28,12))) AS DOUBLE)
           / (SELECT nn FROM tot) AS h_dow
  FROM rb CROSS JOIN tot
)
SELECT tot.nn AS n,
       round(mi.mi_nats, 6) AS mi_nats,
       round(ha.h_type, 6) AS h_type,
       round(hb.h_dow, 6) AS h_dow,
       CASE WHEN least(ha.h_type, hb.h_dow) > 0
            THEN round(mi.mi_nats / least(ha.h_type, hb.h_dow), 6)
            ELSE 0.0 END AS nmi
FROM tot CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb
""",
)
def q_agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and day-of-week (plus
    both marginal entropies and normalized MI) — the model-free
    dependence measure beside q_ts_seasonality's chi-square: chi²
    answers "is there ANY association" with a significance test; MI
    answers "HOW MUCH information does weekday carry about behavior"
    in nats, comparable across feature pairs — which is exactly the
    feature-selection ranking question.

    Scale shape: one partial-aggregated pass to the |types|×7
    contingency table; marginals and all three information sums live
    on that dimension-sized frame. Determinism: every ln argument is
    an exact integer ratio, each ln rounds to 9dp and enters a DECIMAL
    weighted sum (integer count × 12dp decimal is exact, order-free) —
    the q_text_unigram_ppl ln-contract applied to information theory;
    dow comes from pure integer epoch-day arithmetic (q_ts_busday
    convention). Zero-count cells contribute nothing by construction
    (0·ln0 → absent row), matching the MI definition's limit.
    """
    e = load_table(spark, sf_dir, "events")
    dow = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        + 4
    ) % 7
    t = e.select(F.col("event_type").alias("a"), dow.alias("b"))
    c = t.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    ra = c.groupBy("a").agg(F.sum("n").alias("na"))
    rb = c.groupBy("b").agg(F.sum("n").alias("nb"))
    tot = F.broadcast(c.agg(F.sum("n").cast("long").alias("nn")))
    ln9 = lambda x: F.round(F.log(x), 9).cast("decimal(28,12)")  # noqa: E731
    mi = (
        c.join(ra, "a")
        .join(rb, "b")
        .crossJoin(tot)
        .agg(
            (
                F.sum(
                    F.col("n")
                    * ln9(
                        F.col("nn").cast("double")
                        * F.col("n")
                        / (F.col("na") * F.col("nb"))
                    )
                ).cast("double")
                / F.first("nn")
            ).alias("mi_nats")
        )
    )
    ha = ra.crossJoin(tot).agg(
        (
            F.sum(
                F.col("na") * ln9(F.col("nn").cast("double") / F.col("na"))
            ).cast("double")
            / F.first("nn")
        ).alias("h_type")
    )
    hb = rb.crossJoin(tot).agg(
        (
            F.sum(
                F.col("nb") * ln9(F.col("nn").cast("double") / F.col("nb"))
            ).cast("double")
            / F.first("nn")
        ).alias("h_dow")
    )
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("nn").alias("n"),
            F.round("mi_nats", 6).alias("mi_nats"),
            F.round("h_type", 6).alias("h_type"),
            F.round("h_dow", 6).alias("h_dow"),
            F.when(
                F.least("h_type", "h_dow") > 0,
                F.round(
                    F.col("mi_nats") / F.least("h_type", "h_dow"), 6
                ),
            )
            .otherwise(0.0)
            .alias("nmi"),
        )
    )


@query(
    "q_agg_ks",
    # The KS statistic is exact until the final division: running
    # per-group counts over ONE value ordering (ties resolved by
    # evaluating the ECDF gap AFTER all rows of a tied value — the
    # max over the tie-group's last row, which both engines agree on
    # via the range-to-current-value frame), and the max |difference|
    # cross-multiplied to integers: max|cum_a·nb − cum_b·na| / (na·nb).
    oracle="""
WITH t AS (
  SELECT value AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ga
  FROM events WHERE event_type IN ('purchase', 'view')
),
r AS (
  SELECT v,
         sum(ga) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS ca,
         sum(1 - ga) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cb
  FROM t
),
s AS (
  SELECT CAST(max(abs(ca * (SELECT sum(1 - ga) FROM t)
                      - cb * (SELECT sum(ga) FROM t))) AS BIGINT) AS dmax,
         CAST((SELECT sum(ga) FROM t) AS BIGINT) AS na,
         CAST((SELECT sum(1 - ga) FROM t) AS BIGINT) AS nb
  FROM r
)
SELECT na, nb,
       round(CAST(dmax AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6) AS ks_d,
       round(CAST(dmax AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
             / (1.3581 * sqrt((CAST(na AS DOUBLE) + nb) / (CAST(na AS DOUBLE) * nb))),
             6) AS d_over_crit,
       CAST(dmax AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
         > 1.3581 * sqrt((CAST(na AS DOUBLE) + nb) / (CAST(na AS DOUBLE) * nb))
         AS significant
FROM s
""",
)
def q_agg_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test (purchase vs view values):
    the maximum ECDF gap — the DISTRIBUTION-equality test that closes
    the nonparametric family (q_agg_mannwhitney detects location
    shifts; KS detects ANY difference: shape, spread, tails — two
    samples with equal medians but different variances pass MW and
    fail KS). Significance at α=0.05 via the asymptotic critical
    value 1.3581·√((na+nb)/(na·nb)).

    Scale shape (distributed-exact, round 7): the ECDF value at a
    tie-group end depends only on the VALUE, so the running counts
    are computed on the DISTINCT value spine: groupBy(v) per-group
    counts → exact cumulative counts via ``dist_cumsum``
    (range-partition + offsets — the ECDF gap is evaluated once per
    distinct value, exactly the RANGE-frame tie semantics, with no
    data-sized single-partition WindowExec; the old global
    ``W.orderBy(v)`` running sums are gone). The gap stays EXACT
    through the cross-multiplication device — max|cum_a·nb − cum_b·na|
    is BIGINT, divided once at the end (comparing float ECDFs per row
    would round before the max). The sketch form for >>|distinct|
    corpora is q_agg_ks_kll.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ga"),
    )
    g = t.groupBy("v").agg(
        F.sum("ga").alias("a_tie"),
        F.sum(1 - F.col("ga")).alias("b_tie"),
    )
    r = dist_cumsum(g, "v", ["a_tie", "b_tie"]).select(
        F.col("cum_a_tie").alias("ca"), F.col("cum_b_tie").alias("cb")
    )
    tot = F.broadcast(
        t.agg(
            F.sum("ga").cast("long").alias("na"),
            F.sum(1 - F.col("ga")).cast("long").alias("nb"),
        )
    )
    s = r.crossJoin(tot).agg(
        F.max(
            F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
        ).cast("long").alias("dmax"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    d = F.col("dmax").cast("double") / (na * nb)
    crit = 1.3581 * F.sqrt((na + nb) / (na * nb))
    return s.select(
        F.col("na"),
        F.col("nb"),
        F.round(d, 6).alias("ks_d"),
        F.round(d / crit, 6).alias("d_over_crit"),
        (d > crit).alias("significant"),
    )


# ---------------------------------------------------------------------------
# KLL-sketch forms of the rank statistics — the 100-TB path the exact ops'
# docstrings promise. Spark 4's kll_sketch_get_rank/get_quantile require
# FOLDABLE probe arguments (datatype-mismatch NON_FOLDABLE_INPUT otherwise),
# so per-row sketch evaluation is impossible directly; the device used here
# is: KLL sketch → K-point quantile GRID extracted at literal fractions
# ((j-0.5)/K, j=1..K) → grid array broadcast to every row → per-row ECDF
# estimate = |{grid points ≤ v}| / K via JVM array ops (F.filter/F.size —
# codegen, no Python). Error ≈ 1/(2K) grid + KLL rank error (~0.9% at
# k=400): well inside the ±0.05 tolerance bands. No global sort, no
# data-sized window, no driver collect anywhere.

_KLL_K = 200  # grid points per distribution
_KLL_SK = 400  # KLL sketch size parameter (rank error ~0.9%)


def _kll_grid(sk_col: str, alias: str) -> Column:
    """K quantile boundaries q((j-0.5)/K) of a KLL sketch, as an array."""
    return F.array(
        *[
            F.kll_sketch_get_quantile_double(
                sk_col, F.lit((j - 0.5) / _KLL_K)
            )
            for j in range(1, _KLL_K + 1)
        ]
    ).alias(alias)


def _grid_ecdf(grid_col: str, value: Column) -> Column:
    """ECDF estimate at ``value`` from a quantile grid: |{q_j ≤ v}|/K."""
    return F.size(
        F.filter(F.col(grid_col), lambda b: b <= value)
    ) / F.lit(float(_KLL_K))


@query(
    "q_agg_spearman_kll",
    # q_agg_hll contract: the oracle recomputes the EXACT statistic
    # (the q_agg_spearman SQL) and hardcodes the tolerance boolean;
    # Spark emits the exact twin value plus the in-query band check
    # on the sketch estimate — raw estimates are never compared
    # across engines.
    oracle="""
WITH t AS (
  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
),
r AS (
  SELECT
    2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1
      AS rx2,
    2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1
      AS ry2
  FROM t
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
         CAST(sum(rx2 * rx2) AS HUGEINT) AS sxx,
         CAST(sum(ry2 * ry2) AS HUGEINT) AS syy,
         CAST(sum(rx2 * ry2) AS HUGEINT) AS sxy
  FROM r
)
SELECT n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS rho_exact,
       true AS kll_within_band
FROM s
""",
)
def q_agg_spearman_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-form Spearman — the scale path q_agg_spearman's docstring
    names, as tested code: rho_s is the Pearson correlation of the
    GRADES (F_X(x), F_Y(y)), so estimate each grade per row from a
    KLL quantile grid (module comment above: sketch → literal-fraction
    grid → broadcast array → per-row |{q_j ≤ v}|/K) and run one
    map-only power-sum pass over the grades. Two KLL aggregates + one
    broadcast + one scan: no ordering of any kind, the shape that
    survives when even |distinct values| is too big to rank. Verified
    in-query against the exact distributed op within ±0.05.
    """
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    sk = t.agg(
        F.kll_sketch_agg_double("x", F.lit(_KLL_SK)).alias("skx"),
        F.kll_sketch_agg_double("y", F.lit(_KLL_SK)).alias("sky"),
    )
    # Zero rows produce a VALID-but-empty buffer that get_quantile
    # rejects; the n>0 gate drops the grid row so the downstream
    # crossJoin is simply empty (one-row frame, scalar predicate).
    grids = sk.filter(
        F.kll_sketch_get_n_double("skx") > 0
    ).select(_kll_grid("skx", "qx"), _kll_grid("sky", "qy"))
    g = t.crossJoin(F.broadcast(grids)).select(
        _grid_ecdf("qx", F.col("x")).alias("fx"),
        _grid_ecdf("qy", F.col("y")).alias("fy"),
    )
    s = g.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("fx").alias("sx"),
        F.sum("fy").alias("sy"),
        F.sum(F.col("fx") * F.col("fx")).alias("sxx"),
        F.sum(F.col("fy") * F.col("fy")).alias("syy"),
        F.sum(F.col("fx") * F.col("fy")).alias("sxy"),
    )
    n = F.col("n")
    okr = (n * F.col("sxx") - F.col("sx") * F.col("sx") > 0) & (
        n * F.col("syy") - F.col("sy") * F.col("sy") > 0
    )
    rho_kll = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    est = s.select(F.when(okr, rho_kll).alias("rho_kll"))
    exact = q_agg_spearman(spark, sf_dir)
    return exact.crossJoin(F.broadcast(est)).select(
        "n",
        F.col("spearman_rho").alias("rho_exact"),
        F.coalesce(
            F.abs(F.col("rho_kll") - F.col("spearman_rho")) <= 0.05,
            F.col("rho_kll").isNull() & F.col("spearman_rho").isNull(),
        ).alias("kll_within_band"),
    )


@query(
    "q_agg_mannwhitney_kll",
    # q_agg_hll contract (see q_agg_spearman_kll): exact effect size
    # from the q_agg_mannwhitney SQL + hardcoded tolerance boolean.
    oracle="""
WITH t AS (
  SELECT value AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ga
  FROM events WHERE event_type IN ('purchase', 'view')
),
r AS (
  SELECT ga,
         2 * rank() OVER (ORDER BY v) + count(*) OVER (PARTITION BY v) - 1
           AS rk2
  FROM t
),
s AS (
  SELECT
    CAST(sum(CASE WHEN ga = 1 THEN rk2 ELSE 0 END) AS BIGINT) AS r2a,
    CAST(sum(ga) AS BIGINT) AS na,
    CAST(sum(1 - ga) AS BIGINT) AS nb
  FROM r
)
SELECT na, nb,
       round((CAST(r2a AS DOUBLE) / 2
              - CAST(na AS DOUBLE) * (na + 1) / 2)
             / (CAST(na AS DOUBLE) * nb), 6) AS p_exact,
       true AS kll_within_band
FROM s
""",
)
def q_agg_mannwhitney_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-form Mann-Whitney — the scale path q_agg_mannwhitney's
    docstring names, as tested code. The common-language effect size
    p = U/(na·nb) = P(B < A) + ½P(B = A) is E_A[F_B(A)] up to ties,
    so estimate F_B per A-row from group B's KLL quantile grid
    (module comment above) and average: one KLL aggregate over B, one
    broadcast, one map-only pass over A. No ordering anywhere.
    Verified in-query against the exact distributed op within ±0.05
    on the [0,1] effect-size scale.
    """
    e = load_table(spark, sf_dir, "events")
    is_a = F.col("event_type") == "purchase"
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        "value", F.when(is_a, 1).otherwise(0).alias("ga")
    )
    sk = t.agg(
        F.kll_sketch_agg_double(
            F.when(F.col("ga") == 0, F.col("value")), F.lit(_KLL_SK)
        ).alias("skb")
    )
    # Empty-buffer gate — see q_agg_spearman_kll.
    grids = sk.filter(
        F.kll_sketch_get_n_double("skb") > 0
    ).select(_kll_grid("skb", "qb"))
    p_est = (
        t.filter(F.col("ga") == 1)
        .crossJoin(F.broadcast(grids))
        .agg(F.avg(_grid_ecdf("qb", F.col("value"))).alias("p_kll"))
    )
    exact = q_agg_mannwhitney(spark, sf_dir)
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    return exact.crossJoin(F.broadcast(p_est)).select(
        "na",
        "nb",
        F.round(F.col("u_stat") / (na * nb), 6).alias("p_exact"),
        (
            F.abs(F.col("p_kll") - F.col("u_stat") / (na * nb)) <= 0.05
        ).alias("kll_within_band"),
    )


@query(
    "q_agg_ks_kll",
    # q_agg_hll contract (see q_agg_spearman_kll): exact KS distance
    # from the q_agg_ks SQL + hardcoded tolerance boolean.
    oracle="""
WITH t AS (
  SELECT value AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ga
  FROM events WHERE event_type IN ('purchase', 'view')
),
r AS (
  SELECT v,
         sum(ga) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS ca,
         sum(1 - ga) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cb
  FROM t
),
s AS (
  SELECT CAST(max(abs(ca * (SELECT sum(1 - ga) FROM t)
                      - cb * (SELECT sum(ga) FROM t))) AS BIGINT) AS dmax,
         CAST((SELECT sum(ga) FROM t) AS BIGINT) AS na,
         CAST((SELECT sum(1 - ga) FROM t) AS BIGINT) AS nb
  FROM r
)
SELECT na, nb,
       round(CAST(dmax AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6) AS ks_d,
       true AS kll_within_band
FROM s
""",
)
def q_agg_ks_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-form Kolmogorov-Smirnov — the scale path q_agg_ks's
    docstring names, as tested code. Each group's ECDF is estimated
    from its own KLL quantile grid; the max gap is probed at the
    union of the two grids (the gap extremum of two step functions
    with steps ~1/K apart is within ~1/K of a probe). Two KLL
    aggregates + one 2K-row explode: no ordering, no data-sized
    frame anywhere. Verified in-query against the exact distributed
    op within ±0.05.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ga"),
    )
    sk = t.agg(
        F.kll_sketch_agg_double(
            F.when(F.col("ga") == 1, F.col("v")), F.lit(_KLL_SK)
        ).alias("ska"),
        F.kll_sketch_agg_double(
            F.when(F.col("ga") == 0, F.col("v")), F.lit(_KLL_SK)
        ).alias("skb"),
    )
    # Empty-buffer gate — see q_agg_spearman_kll.
    grids = sk.filter(
        (F.kll_sketch_get_n_double("ska") > 0)
        & (F.kll_sketch_get_n_double("skb") > 0)
    ).select(_kll_grid("ska", "qa"), _kll_grid("skb", "qb"))
    probes = grids.select(
        "qa", "qb", F.explode(F.concat("qa", "qb")).alias("v")
    )
    d_est = probes.agg(
        F.max(
            F.abs(
                _grid_ecdf("qa", F.col("v")) - _grid_ecdf("qb", F.col("v"))
            )
        ).alias("d_kll")
    )
    exact = q_agg_ks(spark, sf_dir)
    return exact.crossJoin(F.broadcast(d_est)).select(
        "na",
        "nb",
        "ks_d",
        (F.abs(F.col("d_kll") - F.col("ks_d")) <= 0.05).alias(
            "kll_within_band"
        ),
    )


@query(
    "q_agg_cramers",
    # Observed counts are exact integers; expected = row·col/n in
    # doubles from exact sums; chi2, V and the verdict are identical
    # IEEE closed forms. Zero-count cells of the FULL grid contribute
    # their full (0-E)^2/E term via the cross-joined category spine
    # (the q_ts_seasonality grid lesson).
    oracle="""
WITH c AS (
  SELECT c_mktsegment AS a, c_nationkey AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
),
ra AS (SELECT a, sum(n) AS na FROM c GROUP BY a),
rb AS (SELECT b, sum(n) AS nb FROM c GROUP BY b),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST((SELECT count(*) FROM ra) AS BIGINT) AS r,
               CAST((SELECT count(*) FROM rb) AS BIGINT) AS cc
        FROM c),
grid AS (
  SELECT ra.a, rb.b, ra.na, rb.nb, COALESCE(c.n, 0) AS n
  FROM ra CROSS JOIN rb
  LEFT JOIN c ON c.a = ra.a AND c.b = rb.b
),
s AS (
  SELECT sum((n - CAST(na AS DOUBLE) * nb / tot.nn)
             * (n - CAST(na AS DOUBLE) * nb / tot.nn)
             / (CAST(na AS DOUBLE) * nb / tot.nn)) AS chi2
  FROM grid CROSS JOIN tot
)
SELECT tot.nn AS n, tot.r AS n_rows, tot.cc AS n_cols,
       round(s.chi2, 6) AS chi2,
       round(sqrt(s.chi2 / (tot.nn * (least(tot.r, tot.cc) - 1))), 6)
         AS cramers_v,
       sqrt(s.chi2 / (tot.nn * (least(tot.r, tot.cc) - 1))) < 0.1
         AS negligible_assoc
FROM tot CROSS JOIN s
""",
)
def q_agg_cramers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association + Cramér's V between market segment and
    nation — the EFFECT-SIZE companion the significance tests lack: on
    big data chi-square rejects for trivia (power grows with n), and V
    rescales it to [0,1] so "statistically significant but negligible
    (V < 0.1)" is visible — the why-big-data-needs-effect-sizes lesson
    as an operator. q_agg_mutual_info measures the same dependence in
    nats; V is its bounded, audience-friendly twin.

    Scale shape: one partial-aggregated pass to the segments×nations
    contingency table; the FULL category grid cross-joins the two
    marginal frames so zero-count cells pay their (0−E)²/E term (the
    q_ts_seasonality lesson); chi², V and the verdict are identical
    IEEE closed forms on the dimension-sized grid.
    """
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy(
        F.col("c_mktsegment").alias("a"), F.col("c_nationkey").alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    ra = cells.groupBy("a").agg(F.sum("n").alias("na"))
    rb = cells.groupBy("b").agg(F.sum("n").alias("nb"))
    tot = F.broadcast(
        cells.agg(F.sum("n").cast("long").alias("nn")).crossJoin(
            ra.agg(F.count(F.lit(1)).cast("long").alias("r"))
        ).crossJoin(rb.agg(F.count(F.lit(1)).cast("long").alias("cc")))
    )
    grid = (
        ra.crossJoin(rb)
        .join(cells, ["a", "b"], "left")
        .select(
            "na", "nb", F.coalesce("n", F.lit(0)).alias("n")
        )
    )
    exp = F.col("na").cast("double") * F.col("nb") / F.col("nn")
    s = grid.crossJoin(tot).agg(
        F.sum((F.col("n") - exp) * (F.col("n") - exp) / exp).alias("chi2"),
        F.first("nn").alias("nn"),
        F.first("r").alias("r"),
        F.first("cc").alias("cc"),
    )
    # a 1×c or r×1 table has min(r,c)−1 = 0 — V is undefined, not a
    # division crash (round-8 single-row sweep)
    okv = F.least("r", "cc") > 1
    v = F.sqrt(
        F.col("chi2")
        / (F.col("nn") * (F.least("r", "cc") - 1))
    )
    return s.select(
        F.col("nn").alias("n"),
        F.col("r").alias("n_rows"),
        F.col("cc").alias("n_cols"),
        F.round("chi2", 6).alias("chi2"),
        F.when(okv, F.round(v, 6)).alias("cramers_v"),
        F.when(okv, v < 0.1).alias("negligible_assoc"),
    )


@query(
    "q_agg_jarque_bera",
    # q_agg_skewkurt's exact power sums carried one step further: JB =
    # n/6 * (skew^2 + excess_kurt^2 / 4), chi-square(2df) 5% critical
    # value 5.991 — the normality verdict per group. Identical IEEE
    # expression text both engines.
    oracle="""
WITH s AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,6)))
         AS DOUBLE) AS sx3,
    CAST(sum(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                  AS DECIMAL(38,6))) AS DOUBLE) AS sx4
  FROM lineitem GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag, n,
    (sx3 / n - 3 * (sx / n) * (sxx / n)
     + 2 * (sx / n) * (sx / n) * (sx / n))
      / power(sxx / n - (sx / n) * (sx / n), 1.5) AS sk,
    (sx4 / n - 4 * (sx / n) * (sx3 / n)
     + 6 * (sx / n) * (sx / n) * (sxx / n)
     - 3 * (sx / n) * (sx / n) * (sx / n) * (sx / n))
      / ((sxx / n - (sx / n) * (sx / n)) * (sxx / n - (sx / n) * (sx / n)))
      - 3 AS ek
  FROM s
)
SELECT l_returnflag, n,
       round(sk, 6) AS skewness,
       round(ek, 6) AS excess_kurtosis,
       round(CAST(n AS DOUBLE) / 6 * (sk * sk + ek * ek / 4), 6) AS jb,
       CAST(n AS DOUBLE) / 6 * (sk * sk + ek * ek / 4) > 5.991
         AS reject_normality
FROM m ORDER BY l_returnflag
""",
)
def q_agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per return-flag group: JB =
    n/6·(skew² + kurt²/4) against the χ²(2) 5% critical value — the
    gate that makes the parametric-vs-robust choice a TESTED decision
    (q_agg_skewkurt reports the shape numbers; this turns them into a
    verdict: normality rejected → use q_anomaly_mad / q_agg_mannwhitney;
    not rejected → the z-score/t-test family is licensed). On big data
    JB rejects almost always — which is the correct lesson, and why
    the robust family exists.

    Scale shape: identical to q_agg_skewkurt — ONE partial-aggregated
    pass of exact-decimal power sums to x⁴, closed forms per group;
    the verdict adds two multiplications to the same one-row-per-group
    arithmetic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((x * x * x).cast("decimal(38,6)")).cast("double").alias("sx3"),
        F.sum((x * x * x * x).cast("decimal(38,6)"))
        .cast("double")
        .alias("sx4"),
    )
    n = F.col("n").cast("double")
    mean = F.col("sx") / n
    m2 = F.col("sxx") / n - mean * mean
    sk = (
        F.col("sx3") / n - 3 * mean * (F.col("sxx") / n) + 2 * mean * mean * mean
    ) / F.pow(m2, 1.5)
    ek = (
        F.col("sx4") / n
        - 4 * mean * (F.col("sx3") / n)
        + 6 * mean * mean * (F.col("sxx") / n)
        - 3 * mean * mean * mean * mean
    ) / (m2 * m2) - 3
    jb = n / 6 * (sk * sk + ek * ek / 4)
    # zero-variance groups (single row / constant column) have no
    # defined moments — NULL, never a division crash
    okm = m2 > 0
    return s.select(
        "l_returnflag",
        "n",
        F.when(okm, F.round(sk, 6)).alias("skewness"),
        F.when(okm, F.round(ek, 6)).alias("excess_kurtosis"),
        F.when(okm, F.round(jb, 6)).alias("jb"),
        F.when(okm, jb > 5.991).otherwise(F.lit(False)).alias(
            "reject_normality"
        ),
    ).orderBy("l_returnflag")


@query(
    "q_agg_hhi",
    # Σ share² = Σ rev² / (Σ rev)²: both sums exact DECIMAL, one
    # division at the end — no per-row share is ever floated. The
    # 1500/2500 HHI bands are the DOJ/FTC merger-guideline constants.
    oracle="""
WITH r AS (
  SELECT c.c_mktsegment, o.o_custkey,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
s AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(rev) AS DOUBLE) AS tot,
         CAST(sum(rev * rev) AS DOUBLE) AS sq
  FROM r GROUP BY 1
)
SELECT c_mktsegment, n_customers,
       round(sq / (tot * tot) * 10000, 6) AS hhi,
       CASE WHEN sq / (tot * tot) * 10000 < 1500 THEN 'unconcentrated'
            WHEN sq / (tot * tot) * 10000 < 2500 THEN 'moderate'
            ELSE 'concentrated' END AS band
FROM s ORDER BY c_mktsegment
""",
)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of customer revenue per
    market segment (HHI = 10000·Σ share², banded at the DOJ/FTC
    1500/2500 merger-guideline thresholds) — the concentration measure
    beside q_agg_gini's inequality: Gini asks how UNEVEN the
    distribution is; HHI asks how DOMINATED it is (a segment where one
    customer is half the revenue is a business risk no mean hides —
    customer-concentration risk is a disclosure item for a reason).

    Scale shape: one keyed aggregate to (segment, customer) DECIMAL
    revenue, then Σ share² computes as Σ rev² / (Σ rev)² — both sums
    exact DECIMAL per segment, ONE division at the end; no per-row
    float share ever exists, so the index is order-free by
    construction. The customer join broadcasts the dimension.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    r = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    s = r.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("rev").cast("double").alias("tot"),
        F.sum(F.col("rev") * F.col("rev")).cast("double").alias("sq"),
    )
    hhi = F.col("sq") / (F.col("tot") * F.col("tot")) * 10000
    return s.select(
        "c_mktsegment",
        "n_customers",
        F.round(hhi, 6).alias("hhi"),
        F.when(hhi < 1500, "unconcentrated")
        .when(hhi < 2500, "moderate")
        .otherwise("concentrated")
        .alias("band"),
    ).orderBy("c_mktsegment")


@query(
    "q_agg_kendall", scan_repair=False,
    # Concordant/discordant pair counts over the CONTINGENCY CELLS in
    # exact DECIMAL (pair products overflow BIGINT at petabyte row
    # counts); tau-b's tie terms from the marginals; one final double
    # expression with a fixed op order.
    oracle="""
WITH cells AS (
  SELECT l_quantity AS x, l_discount AS y, count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
pairs AS (
  SELECT CAST(coalesce(sum(CASE WHEN b.x > a.x AND b.y > a.y
                       THEN CAST(a.n AS DECIMAL(38,0)) * b.n END), 0)
              AS DOUBLE) AS conc,
         CAST(coalesce(sum(CASE WHEN b.x > a.x AND b.y < a.y
                       THEN CAST(a.n AS DECIMAL(38,0)) * b.n END), 0)
              AS DOUBLE) AS disc
  FROM cells a JOIN cells b ON b.x > a.x
),
marg AS (
  SELECT CAST(sum(tx) AS BIGINT) AS nn,
         CAST(sum(CAST(tx AS DECIMAL(38,0)) * (tx - 1)) AS DOUBLE) / 2
           AS n1
  FROM (SELECT x, sum(n) AS tx FROM cells GROUP BY x)
),
marg2 AS (
  SELECT CAST(sum(CAST(ty AS DECIMAL(38,0)) * (ty - 1)) AS DOUBLE) / 2
           AS n2
  FROM (SELECT y, sum(n) AS ty FROM cells GROUP BY y)
)
SELECT nn AS n,
       round((conc - disc)
             / sqrt((nn * (nn - 1.0) / 2 - n1)
                    * (nn * (nn - 1.0) / 2 - n2)), 6) AS kendall_tau_b
FROM pairs, marg, marg2
""",
)
def q_agg_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between quantity and discount — the third rank
    correlation next to q_agg_stats' Pearson and q_agg_spearman's rho.
    Tau has a direct probabilistic reading (P(concordant) −
    P(discordant)) and the -b form corrects for the heavy ties a
    DISCRETE pair of axes produces; on two low-cardinality columns it
    is the right association measure where Spearman's midranks wash
    out.

    Scale shape: the O(n²) pair count collapses onto the CONTINGENCY
    GRID — one data-sized groupBy(x, y) pass, then every pair of
    CELLS (≤ |x-levels|·|y-levels| rows, here 50×11; a dimension
    frame bounded by level product, NOT by data) via a broadcast
    theta self-join, weighted by n_a·n_b in exact DECIMAL. Tie terms
    n1/n2 come from the marginals of the same grid. The broadcast
    nested loop is deliberate and safe: its input is the grid, whose
    size is data-independent — the canonical "aggregate first, then
    quadratic on the aggregate" device (q_ts_theilsen's pattern).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_quantity").alias("x"), F.col("l_discount").alias("y")
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    big = "decimal(38,0)"
    a, b = cells.alias("a"), F.broadcast(cells.alias("b"))
    pairs = (
        a.join(b, F.col("b.x") > F.col("a.x"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("b.y") > F.col("a.y"),
                        F.col("a.n").cast(big) * F.col("b.n"),
                    )
                ),
                F.lit(0),
            )
            .cast("double")
            .alias("conc"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("b.y") < F.col("a.y"),
                        F.col("a.n").cast(big) * F.col("b.n"),
                    )
                ),
                F.lit(0),
            )
            .cast("double")
            .alias("disc"),
        )
    )
    xm = cells.groupBy("x").agg(F.sum("n").alias("tx"))
    marg = xm.agg(
        F.sum("tx").cast("long").alias("nn"),
        (
            F.sum(F.col("tx").cast(big) * (F.col("tx") - 1)).cast("double")
            / 2
        ).alias("n1"),
    )
    ym = cells.groupBy("y").agg(F.sum("n").alias("ty"))
    marg2 = ym.agg(
        (
            F.sum(F.col("ty").cast(big) * (F.col("ty") - 1)).cast("double")
            / 2
        ).alias("n2")
    )
    s = pairs.crossJoin(marg).crossJoin(marg2)
    nn = F.col("nn").cast("double")
    n0 = nn * (nn - 1.0) / 2
    # all-tied axes (single row / constant column) zero a marginal
    # term — tau-b undefined, never an ANSI crash
    okt = (n0 - F.col("n1") > 0) & (n0 - F.col("n2") > 0)
    tau = (F.col("conc") - F.col("disc")) / F.sqrt(
        (n0 - F.col("n1")) * (n0 - F.col("n2"))
    )
    return s.select(
        F.col("nn").alias("n"),
        F.when(okt, F.round(tau, 6)).alias("kendall_tau_b"),
    )


@query(
    "q_agg_chisq_gof",
    # Uniform-expected algebra: sum((o-e)^2/e) over ALL k levels equals
    # k*sum(o^2)/n - n (zero-observation levels included implicitly),
    # so the statistic needs only sum(o^2) — exact BIGINT->DECIMAL —
    # and one ordered double expression.
    oracle="""
WITH o AS (
  SELECT l_quantity AS level, count(*) AS obs
  FROM lineitem GROUP BY 1
),
s AS (
  SELECT CAST(sum(obs) AS BIGINT) AS n,
         CAST(sum(CAST(obs AS DECIMAL(38,0)) * obs) AS DOUBLE) AS so2,
         CAST(count(*) AS BIGINT) AS k_observed
  FROM o
)
SELECT n, k_observed,
       round(50.0 * so2 / n - n, 6) AS chi2,
       CAST(49 AS BIGINT) AS df,
       (50.0 * so2 / n - n) > 66.339 AS reject_uniform
FROM s
""",
)
def q_agg_chisq_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the quantity distribution against
    its design target (uniform on 1..50, the TPC-H generator's spec) —
    the data-validation test: "does this load still follow the
    expected distribution?" Completes the chi-square family:
    q_ts_seasonality tests a UNIFORM TIME grid, q_agg_cramers measures
    ASSOCIATION between two columns; this tests ONE column against a
    fixed reference distribution.

    Scale shape: one grouped count (50 groups) and one 50-row
    rollup. Under a uniform expectation e = n/k the statistic
    algebraically reduces to k·Σo²/n − n — zero-observation levels
    contribute exactly their e term implicitly, so no expected-side
    grid join is needed (contrast q_ts_seasonality, which must join
    the grid because its zero cells carry day identities). Σo² is
    exact DECIMAL; the final expression is one ordered double chain.
    Critical value 66.339 = chi²(0.95, df=49), a constant.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = li.groupBy(F.col("l_quantity").alias("level")).agg(
        F.count(F.lit(1)).alias("obs")
    )
    big = "decimal(38,0)"
    s = o.agg(
        F.sum("obs").cast("long").alias("n"),
        F.sum(F.col("obs").cast(big) * F.col("obs")).cast("double").alias(
            "so2"
        ),
        F.count(F.lit(1)).cast("long").alias("k_observed"),
    )
    chi2 = 50.0 * F.col("so2") / F.col("n") - F.col("n")
    return s.select(
        "n",
        "k_observed",
        F.round(chi2, 6).alias("chi2"),
        F.lit(49).cast("long").alias("df"),
        (chi2 > 66.339).alias("reject_uniform"),
    )


@query(
    "q_agg_levene",
    # Brown-Forsythe: |x - group median| deviations are EXACT 2dp
    # decimals (value 2dp, median an actual data value), so every sum
    # is decimal-armored; the F statistic is one ordered double chain
    # on five exact aggregates per group.
    oracle="""
WITH med AS (
  SELECT event_type, quantile_disc("value", 0.5) AS m
  FROM events GROUP BY event_type
),
z AS (
  SELECT e.event_type,
         CAST(abs(CAST(e.value AS DECIMAL(28,6)) - m.m) AS DECIMAL(28,6))
           AS z
  FROM events e JOIN med m USING (event_type)
),
g AS (
  SELECT event_type, count(*) AS ng,
         sum(z) AS sz, sum(z * z) AS szz
  FROM z GROUP BY event_type
),
t AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(sz) AS DOUBLE) AS tot_sz,
         CAST(sum(CAST(sz AS DECIMAL(38,6)) * sz / ng) AS DOUBLE)
           AS sum_gsq,
         CAST(sum(szz) AS DOUBLE) AS tot_szz
  FROM g
)
SELECT n, k,
       round(((sum_gsq - tot_sz * tot_sz / n) / (k - 1))
             / ((tot_szz - sum_gsq) / (n - k)), 6) AS levene_w,
       (((sum_gsq - tot_sz * tot_sz / n) / (k - 1))
        / ((tot_szz - sum_gsq) / (n - k))) > 2.372 AS unequal_spread
FROM t
""",
)
def q_agg_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene's test with group MEDIANS) for
    equality of spread across event types — the guard in front of
    q_agg_anova and q_agg_ttest, whose equal-variance assumption this
    checks, and robust to non-normality precisely because the centers
    are medians (q_agg_percentile_disc's discrete selection, an actual
    data value) rather than means.

    Scale shape: one per-group sort-aggregate for the 5 medians
    (dimension-sized result, broadcast back onto the stream), then ONE
    partial-aggregated pass accumulating n/Σz/Σz² per group in exact
    DECIMAL — |x − median| stays an exact 2dp decimal, so no float
    summation anywhere. The F statistic (between-group vs within-group
    mean squares of the deviations) is the standard one-way-ANOVA
    closed form applied to z, computed from the 5-row group frame.
    Critical value 2.372 = F(0.95; 4, ∞), a constant at these df.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("levene_events")
    med = spark.sql(
        """
SELECT event_type,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS m
FROM levene_events GROUP BY event_type
"""
    )
    z = (
        e.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(
                F.col("value").cast("decimal(28,6)") - F.col("m")
            ).cast("decimal(28,6)").alias("z"),
        )
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    t = g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sz").cast("double").alias("tot_sz"),
        F.sum(F.col("sz").cast("decimal(38,6)") * F.col("sz") / F.col("ng"))
        .cast("double")
        .alias("sum_gsq"),
        F.sum("szz").cast("double").alias("tot_szz"),
    )
    n, k = F.col("n").cast("double"), F.col("k").cast("double")
    w = (
        (F.col("sum_gsq") - F.col("tot_sz") * F.col("tot_sz") / n)
        / (k - 1)
    ) / ((F.col("tot_szz") - F.col("sum_gsq")) / (n - k))
    # degenerate designs (one group, one row per group, zero within-
    # group spread) have no F statistic — NULL, never a division crash
    okw = (
        (k > 1)
        & (n > k)
        & (F.col("tot_szz") - F.col("sum_gsq") > 0)
    )
    return t.select(
        "n",
        "k",
        F.when(okw, F.round(w, 6)).alias("levene_w"),
        F.when(okw, w > 2.372).otherwise(F.lit(False)).alias(
            "unequal_spread"
        ),
    )


@query(
    "q_agg_theil",
    # ln-contract throughout (q_text_unigram_ppl): every data-sized
    # ln(x) rounds to 9dp (identical IEEE value both engines) and
    # enters an exact DECIMAL product/sum; the handful of group-scalar
    # lns round to 9dp before use so every downstream formula is the
    # same IEEE chain; the 3-term cross-group sums are 9dp-DECIMAL
    # armored (a raw double sum over groups would wobble with merge
    # order).
    oracle="""
WITH g AS (
  SELECT l_returnflag AS grp,
    CAST(count(*) AS BIGINT) AS n_g,
    sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS sx_d,
    sum(CAST(l_extendedprice AS DECIMAL(12,2))
        * CAST(round(ln(l_extendedprice), 9) AS DECIMAL(11,9))) AS slnx_d
  FROM lineitem GROUP BY l_returnflag
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(sx_d) AS DOUBLE) AS sx,
         CAST(sum(slnx_d) AS DOUBLE) AS slnx
  FROM g
),
m AS (
  SELECT g.grp, g.n_g,
    CAST(g.sx_d AS DOUBLE) AS sxg,
    CAST(g.slnx_d AS DOUBLE) AS slng,
    t.n, t.sx, t.slnx,
    t.sx / t.n AS mu,
    CAST(g.sx_d AS DOUBLE) / g.n_g AS mug
  FROM g CROSS JOIN tot AS t
),
c AS (
  SELECT grp, n_g, sxg, n, sx, slnx, mu,
    round(ln(mu), 9) AS lnmu,
    round(ln(mug), 9) AS lnmug,
    sxg / sx AS share,
    slng / (n_g * mug) - round(ln(mug), 9) AS t_g
  FROM m
),
d AS (
  SELECT
    CAST(sum(CAST(round(share * (lnmug - lnmu), 9) AS DECIMAL(18,9)))
         AS DOUBLE) AS t_between,
    CAST(sum(CAST(round(share * t_g, 9) AS DECIMAL(18,9)))
         AS DOUBLE) AS t_within
  FROM c
)
SELECT c.grp AS l_returnflag, c.n_g,
       round(c.share, 6) AS income_share,
       round(c.t_g, 6) AS theil_within_group,
       round(c.slnx / (c.n * c.mu) - c.lnmu, 6) AS theil_total,
       round(d.t_between, 6) AS theil_between,
       round(d.t_within, 6) AS theil_within,
       abs((c.slnx / (c.n * c.mu) - c.lnmu)
           - (d.t_between + d.t_within)) <= 0.00001
         AS decomposition_ok
FROM c CROSS JOIN d ORDER BY c.grp
""",
)
def q_agg_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index with its exact within/between
    decomposition — the inequality measure that, unlike q_agg_gini,
    DECOMPOSES additively: T = Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ), so
    "how much revenue concentration lives INSIDE return-flag groups
    vs BETWEEN them" is an identity, not a narrative — the
    decomposition_ok boolean asserts it to 1e-5 in-query. (q_agg_gini
    ranks; q_agg_hhi squares shares; Theil is the information-theoretic
    third whose group decomposition the other two lack.)

    Scale shape: T = Σx·ln(x/μ)/(nμ) needs only Σx and Σx·ln x per
    group — ONE partial-aggregated pass where each row contributes an
    exact DECIMAL product (12,2)×(11,9) of value and its 9dp-rounded
    ln; everything downstream runs on the |groups|-row frame via two
    broadcast cross-joins. No window, no second scan, no driver math.

    Determinism: the ln-contract (q_text_unigram_ppl) for the
    data-sized lns; group-scalar lns rounded to 9dp before entering
    formulas; cross-group term sums 9dp-DECIMAL armored.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    lnx9 = F.round(F.log(x), 9).cast("decimal(11,9)")
    g = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(x.cast("decimal(28,2)")).alias("sx_d"),
        F.sum(x.cast("decimal(12,2)") * lnx9).alias("slnx_d"),
    )
    tot = F.broadcast(
        g.agg(
            F.sum("n_g").cast("long").alias("n"),
            F.sum("sx_d").cast("double").alias("sx"),
            F.sum("slnx_d").cast("double").alias("slnx"),
        )
    )
    m = g.crossJoin(tot).select(
        "grp",
        "n_g",
        F.col("sx_d").cast("double").alias("sxg"),
        F.col("slnx_d").cast("double").alias("slng"),
        "n",
        "sx",
        "slnx",
        (F.col("sx") / F.col("n")).alias("mu"),
        (F.col("sx_d").cast("double") / F.col("n_g")).alias("mug"),
    )
    c = m.select(
        "grp",
        "n_g",
        "sxg",
        "n",
        "sx",
        "slnx",
        "mu",
        F.round(F.log("mu"), 9).alias("lnmu"),
        F.round(F.log("mug"), 9).alias("lnmug"),
        (F.col("sxg") / F.col("sx")).alias("share"),
        (
            F.col("slng") / (F.col("n_g") * F.col("mug"))
            - F.round(F.log("mug"), 9)
        ).alias("t_g"),
    )
    d = F.broadcast(
        c.agg(
            F.sum(
                F.round(
                    F.col("share") * (F.col("lnmug") - F.col("lnmu")), 9
                ).cast("decimal(18,9)")
            )
            .cast("double")
            .alias("t_between"),
            F.sum(
                F.round(F.col("share") * F.col("t_g"), 9).cast(
                    "decimal(18,9)"
                )
            )
            .cast("double")
            .alias("t_within"),
        )
    )
    t_total = F.col("slnx") / (F.col("n") * F.col("mu")) - F.col("lnmu")
    return (
        c.crossJoin(d)
        .select(
            F.col("grp").alias("l_returnflag"),
            "n_g",
            F.round("share", 6).alias("income_share"),
            F.round("t_g", 6).alias("theil_within_group"),
            F.round(t_total, 6).alias("theil_total"),
            F.round("t_between", 6).alias("theil_between"),
            F.round("t_within", 6).alias("theil_within"),
            (
                F.abs(t_total - (F.col("t_between") + F.col("t_within")))
                <= 0.00001
            ).alias("decomposition_ok"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_tukey",
    # q_agg_anova's power sums carried to the post-hoc step: MSE from
    # the same exact-DECIMAL group sums, pairwise mean gaps vs the
    # studentized-range margin — identical IEEE closed forms per pair;
    # q_crit(k=5, df=inf, 5%) = 3.858 is a literal like anova's 3.32.
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
),
t AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
         CAST(count(*) AS BIGINT) AS k,
         sum(sxx) - sum(sx * sx / n) AS ssw
  FROM g
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS n_a, b.n AS n_b,
         abs(a.sx / a.n - b.sx / b.n) AS gap,
         3.858 * sqrt((t.ssw / (t.n_tot - t.k)) / 2
                      * (1.0 / a.n + 1.0 / b.n)) AS hsd
  FROM g a JOIN g b ON a.event_type < b.event_type
  CROSS JOIN t
)
SELECT type_a, type_b, n_a, n_b,
       round(gap, 6) AS mean_gap,
       round(hsd, 6) AS hsd_margin,
       gap > hsd AS significant
FROM pairs ORDER BY type_a, type_b
""",
)
def q_agg_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc — WHICH pairs differ after q_agg_anova says
    "some group differs": every pairwise |mean gap| against the
    honestly-simultaneous margin q_crit·sqrt(MSE/2·(1/n_i+1/n_j)),
    with q_crit the studentized-range 5% point for k=5 groups at the
    asymptotic df (3.858, a literal — the q_agg_jarque_bera constant
    doctrine). Running k(k−1)/2 plain t-tests instead inflates the
    family error exactly the way q_events_bh_fdr exists to stop; HSD
    is the classical fix when the family is ALL pairs of one factor.

    Scale shape: the SAME one partial-aggregated pass as q_agg_anova
    (count + two exact-DECIMAL power sums per event type); the pair
    frame is the k-row group frame self-joined (k(k−1)/2 ≤ 10 rows),
    cross-joined with the 1-row MSE — dimension-sized throughout.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    t = F.broadcast(
        g.agg(
            F.sum("n").cast("long").alias("n_tot"),
            F.count(F.lit(1)).cast("long").alias("k"),
            (F.sum("sxx") - F.sum(F.col("sx") * F.col("sx") / F.col("n")))
            .alias("ssw"),
        )
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("sx").alias("sx_a"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("sx").alias("sx_b"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .crossJoin(t)
    )
    gap = F.abs(
        F.col("sx_a") / F.col("n_a") - F.col("sx_b") / F.col("n_b")
    )
    hsd = 3.858 * F.sqrt(
        (F.col("ssw") / (F.col("n_tot") - F.col("k")))
        / 2
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.round(gap, 6).alias("mean_gap"),
        F.round(hsd, 6).alias("hsd_margin"),
        (gap > hsd).alias("significant"),
    ).orderBy("type_a", "type_b")


_QQ_GRID = tuple(round(0.1 * i, 1) for i in range(1, 10))


@query(
    "q_agg_qq",
    # Exact linear-interpolation percentiles (the q_agg_quantile
    # contract: Spark `percentile` == DuckDB quantile_cont) evaluated
    # on the shared 9-point grid; diff/ratio one IEEE chain per row.
    oracle=f"""
WITH a AS (
  SELECT quantile_cont(value, [{", ".join(str(q) for q in _QQ_GRID)}])
    AS qs
  FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT quantile_cont(value, [{", ".join(str(q) for q in _QQ_GRID)}])
    AS qs
  FROM events WHERE event_type = 'view'
),
g AS (SELECT unnest(generate_series(1, {len(_QQ_GRID)})) AS i)
SELECT g.i / 10.0 AS quantile,
       round(a.qs[g.i], 6) AS purchase_q,
       round(b.qs[g.i], 6) AS view_q,
       round(a.qs[g.i] - b.qs[g.i], 6) AS qq_gap,
       round(a.qs[g.i] / b.qs[g.i], 6) AS qq_ratio
FROM g CROSS JOIN a CROSS JOIN b ORDER BY quantile
""",
)
def q_agg_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile table between the purchase and view value
    distributions — the DIAGNOSTIC the scalar two-sample tests
    (q_agg_ks: max ECDF gap; q_agg_mannwhitney: one effect size)
    compress away: nine matched exact percentiles side by side show
    WHERE the distributions diverge (a tail-only gap and a uniform
    shift look identical to KS's single number). The table behind
    every QQ plot.

    Scale shape: TWO grouped exact-percentile aggregates (the
    q_agg_quantile linear-interpolation contract), each computing the
    whole 9-point grid in ONE pass via percentile(value, array(...));
    the grid join is 9×9 dimension rows. The extreme-cardinality
    swap is the same one q_agg_quantile names: percentile_approx /
    KLL grids (q_agg_kll), same report shape.
    """
    e = load_table(spark, sf_dir, "events")
    grid = F.array(*[F.lit(float(q)) for q in _QQ_GRID])

    def side(tp: str, alias: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == tp)
            .agg(F.percentile("value", grid).alias("qs"))
            .select(
                F.posexplode("qs").alias("i", alias)
            )
        )

    a = side("purchase", "purchase_q")
    b = side("view", "view_q")
    return (
        a.join(b, "i")
        .select(
            ((F.col("i") + 1) / 10.0).alias("quantile"),
            F.round("purchase_q", 6).alias("purchase_q"),
            F.round("view_q", 6).alias("view_q"),
            F.round(F.col("purchase_q") - F.col("view_q"), 6).alias(
                "qq_gap"
            ),
            F.round(F.col("purchase_q") / F.col("view_q"), 6).alias(
                "qq_ratio"
            ),
        )
        .orderBy("quantile")
    )


_IRLS_ITERS = 3


def _logreg_sql(src: str) -> str:
    """Generate the unrolled {iters}-round IRLS body (shared verbatim by
    BOTH engines — only the source relation name differs): per round,
    per-row sigmoid weights under the 9dp contract, exact-DECIMAL
    gradient/Hessian power sums, and a Cramer 3×3 Newton step whose
    output betas round to 9dp so the next round's inputs are identical
    doubles in both engines."""
    cof = (
        "(h11 * h22 - h12 * h12)",
        "(h01 * h22 - h12 * h02)",
        "(h01 * h12 - h11 * h02)",
    )
    det = f"(h00 * {cof[0]} - h01 * {cof[1]} + h02 * {cof[2]})"
    d0 = (
        f"(g0 * {cof[0]} - h01 * (g1 * h22 - h12 * g2)"
        f" + h02 * (g1 * h12 - h11 * g2))"
    )
    d1 = (
        f"(h00 * (g1 * h22 - g2 * h12) - g0 * {cof[1]}"
        f" + h02 * (h01 * g2 - g1 * h02))"
    )
    d2 = (
        f"(h00 * (h11 * g2 - h12 * g1) - h01 * (h01 * g2 - g1 * h02)"
        f" + g0 * {cof[2]})"
    )
    rounds = []
    for i in range(_IRLS_ITERS):
        rounds.append(f"""
p{i} AS (
  SELECT u.y, u.x1, u.x2,
    CAST(round(1 / (1 + exp(-(b.b0 + b.b1 * u.x1 + b.b2 * u.x2))), 9)
         AS DECIMAL(10,9)) AS w
  FROM u CROSS JOIN beta{i} b
),
g{i} AS (
  SELECT
    CAST(sum(CAST(y AS DECIMAL(11,9)) - w) AS DOUBLE) AS g0,
    CAST(sum((CAST(y AS DECIMAL(11,9)) - w)
             * CAST(x1 AS DECIMAL(18,0))) AS DOUBLE) AS g1,
    CAST(sum((CAST(y AS DECIMAL(11,9)) - w)
             * CAST(x2 AS DECIMAL(18,0))) AS DOUBLE) AS g2,
    CAST(sum(CAST(round(w * (1 - w), 9) AS DECIMAL(10,9)))
         AS DOUBLE) AS h00,
    CAST(sum(CAST(round(w * (1 - w), 9) AS DECIMAL(10,9))
             * CAST(x1 AS DECIMAL(18,0))) AS DOUBLE) AS h01,
    CAST(sum(CAST(round(w * (1 - w), 9) AS DECIMAL(10,9))
             * CAST(x2 AS DECIMAL(18,0))) AS DOUBLE) AS h02,
    CAST(sum(CAST(round(w * (1 - w), 9) AS DECIMAL(10,9))
             * CAST(x1 * x1 AS DECIMAL(18,0))) AS DOUBLE) AS h11,
    CAST(sum(CAST(round(w * (1 - w), 9) AS DECIMAL(10,9))
             * CAST(x1 * x2 AS DECIMAL(18,0))) AS DOUBLE) AS h12,
    CAST(sum(CAST(round(w * (1 - w), 9) AS DECIMAL(10,9))
             * CAST(x2 * x2 AS DECIMAL(18,0))) AS DOUBLE) AS h22
  FROM p{i}
),
beta{i + 1} AS (
  SELECT
    CASE WHEN abs({det}) > 0.000000000001
         THEN round(b.b0 + {d0} / {det}, 9) ELSE b.b0 END AS b0,
    CASE WHEN abs({det}) > 0.000000000001
         THEN round(b.b1 + {d1} / {det}, 9) ELSE b.b1 END AS b1,
    CASE WHEN abs({det}) > 0.000000000001
         THEN round(b.b2 + {d2} / {det}, 9) ELSE b.b2 END AS b2
  FROM beta{i} b CROSS JOIN g{i}
)""")
    n = _IRLS_ITERS
    return f"""
WITH raw AS (
  SELECT user_id,
    CAST(count(*) AS BIGINT) AS n_events,
    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      * CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             THEN 1 ELSE 0 END AS y
  FROM {src} GROUP BY user_id
),
m AS (
  SELECT
    CAST(floor(CAST(sum(n_events) AS DOUBLE) / count(*)) AS BIGINT) AS m1,
    CAST(floor(CAST(sum(n_days) AS DOUBLE) / count(*)) AS BIGINT) AS m2
  FROM raw
),
u AS (
  SELECT raw.y, raw.n_events - m.m1 AS x1, raw.n_days - m.m2 AS x2
  FROM raw CROSS JOIN m
),
beta0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
                 CAST(0.0 AS DOUBLE) AS b2),
{",".join(rounds)},
fin AS (
  SELECT u.y,
    CAST(round(1 / (1 + exp(-(b.b0 + b.b1 * u.x1 + b.b2 * u.x2))), 9)
         AS DECIMAL(10,9)) AS w
  FROM u CROSS JOIN beta{n} b
),
metrics AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_users,
    CAST(sum(CAST(round(
      CASE WHEN y = 1
           THEN ln(greatest(least(CAST(w AS DOUBLE), 0.999999999),
                            0.000000001))
           ELSE ln(greatest(least(1 - CAST(w AS DOUBLE), 0.999999999),
                            0.000000001)) END, 9)
      AS DECIMAL(18,9))) AS DOUBLE) AS ll,
    CAST(sum(CASE WHEN (CAST(w AS DOUBLE) > 0.5) = (y = 1)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM fin
)
SELECT m.n_users,
       round(b.b0, 6) AS beta0,
       round(b.b1, 6) AS beta1,
       round(b.b2, 6) AS beta2,
       round(m.ll, 6) AS log_likelihood,
       m.n_correct,
       round(CAST(m.n_correct AS DOUBLE) / m.n_users, 6) AS accuracy
FROM metrics m CROSS JOIN beta{n} b
"""


@query("q_ml_logreg", oracle=_logreg_sql("events"))
def q_ml_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression by IRLS — FULLY RELATIONAL, no driver-side
    linear algebra at all: {iters} unrolled Newton rounds, each one
    scan computing per-user sigmoid weights under the 9dp contract,
    exact-DECIMAL gradient/Hessian power sums (six Hessian cells for
    intercept + two features), and a Cramer 3×3 solve on the 1-row
    sum frame whose output betas round to 9dp — so the next round's
    per-row inputs are bit-identical doubles in both engines and the
    whole iterative fit is oracle-checkable, the same bounded-
    iteration doctrine as q_graph_pagerank. Completes the ML family:
    q_ml_linreg fits continuous targets in closed form; this fits the
    BINARY target (will this user convert?) the experimentation stack
    reads out, plus training log-likelihood and accuracy.

    Features: per-user event count and active-day count, centered by
    integer floor-means (conditioning without leaving exact integer
    space). Singular-Hessian rounds keep the previous betas (exact
    guard, same literal both engines).

    Scale shape: each round is ONE partial-aggregated scan of the
    per-user frame (the per-user reduction itself is one shuffle,
    shared); the solve is arithmetic on one row — k features cost
    (k+1)(k+2)/2 Hessian sums, practical to k~10. Iteration count is
    a compile-time constant, so the plan is a static {iters}-deep
    chain — no driver loop, no collect, nothing data-sized past the
    first reduction.
    """
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("logreg_events")
    return spark.sql(_logreg_sql("logreg_events"))


q_ml_logreg.__doc__ = q_ml_logreg.__doc__.format(iters=_IRLS_ITERS)


@query(
    "q_ml_stump",
    # Candidate-split statistics are EXACT integer prefix sums over the
    # distinct feature values (dist_cumsum on the Spark side — the
    # scale-safe device; the oracle may use a plain window, the
    # contract is identical VALUES); impurity is one IEEE chain per
    # candidate, argmin on (9dp-rounded gini, threshold) is the same
    # total order in both engines.
    oracle="""
WITH u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS x,
    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id
),
d AS (
  SELECT x, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(y) AS BIGINT) AS pos
  FROM u GROUP BY x
),
c AS (
  SELECT x,
    sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS nl,
    sum(pos) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS posl
  FROM d
),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
      FROM d),
cand AS (
  SELECT c.x AS thr,
    CAST(c.nl AS BIGINT) AS nl, CAST(c.posl AS BIGINT) AS posl,
    CAST(t.n - c.nl AS BIGINT) AS nr,
    CAST(t.p - c.posl AS BIGINT) AS posr, t.n AS n, t.p AS p
  FROM c CROSS JOIN t WHERE t.n - c.nl > 0
),
g AS (
  SELECT thr, nl, nr, posl, posr, n, p,
    (CAST(nl AS DOUBLE) / n)
      * (1 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
            - (CAST(nl - posl AS DOUBLE) / nl)
              * (CAST(nl - posl AS DOUBLE) / nl))
    + (CAST(nr AS DOUBLE) / n)
      * (1 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
            - (CAST(nr - posr AS DOUBLE) / nr)
              * (CAST(nr - posr AS DOUBLE) / nr)) AS gini
  FROM cand
)
SELECT thr AS threshold, nl AS n_left, nr AS n_right,
       round(1 - (CAST(p AS DOUBLE) / n) * (CAST(p AS DOUBLE) / n)
               - (CAST(n - p AS DOUBLE) / n)
                 * (CAST(n - p AS DOUBLE) / n), 6) AS gini_root,
       round(gini, 6) AS gini_split,
       CASE WHEN 2 * posl >= nl THEN 1 ELSE 0 END AS left_label,
       CASE WHEN 2 * posr >= nr THEN 1 ELSE 0 END AS right_label,
       round((greatest(posl, nl - posl) + greatest(posr, nr - posr))
             * 1.0 / n, 6) AS accuracy
FROM g ORDER BY round(gini, 9), thr LIMIT 1
""",
)
def q_ml_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision stump (one-level CART) on the per-user conversion
    target: the Gini-optimal threshold over event count — the atomic
    unit of every tree ensemble, fit exactly and relationally. Emits
    the chosen split, root vs split impurity (the information gain a
    tree builder would log), per-side majority labels, and stump
    accuracy — the fifth relational-ML member (linreg, logreg, naive
    Bayes, and now the tree atom). A full depth-k tree is this op
    recursed on filtered partitions; the stump IS the interesting
    kernel (split search over candidate thresholds), and one level is
    where the exact-relational form stays one-shuffle cheap.

    Scale shape: per-user reduction (one shuffle), then candidate
    statistics = exact INTEGER prefix sums over the distinct-value
    frame via ``dist_cumsum`` (never an unpartitioned window — the
    feature's value domain can be large); impurity is one IEEE chain
    per candidate; the argmin is an orderBy(9dp-gini, thr).limit(1)
    TakeOrderedAndProject.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    d = u.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    c = dist_cumsum(d, "x", ["cnt", "pos"])
    t = F.broadcast(
        d.agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("p"),
        )
    )
    cand = (
        c.crossJoin(t)
        .select(
            F.col("x").alias("thr"),
            F.col("cum_cnt").cast("long").alias("nl"),
            F.col("cum_pos").cast("long").alias("posl"),
            (F.col("n") - F.col("cum_cnt")).cast("long").alias("nr"),
            (F.col("p") - F.col("cum_pos")).cast("long").alias("posr"),
            "n",
            "p",
        )
        .filter(F.col("nr") > 0)
    )
    def gini_side(cnt, pos):
        pd_ = pos.cast("double") / cnt
        qd = (cnt - pos).cast("double") / cnt
        return 1 - pd_ * pd_ - qd * qd

    gini = (F.col("nl").cast("double") / F.col("n")) * gini_side(
        F.col("nl"), F.col("posl")
    ) + (F.col("nr").cast("double") / F.col("n")) * gini_side(
        F.col("nr"), F.col("posr")
    )
    proot = F.col("p").cast("double") / F.col("n")
    qroot = (F.col("n") - F.col("p")).cast("double") / F.col("n")
    return (
        cand.withColumn("gini", gini)
        .select(
            F.col("thr").alias("threshold"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.round(1 - proot * proot - qroot * qroot, 6).alias(
                "gini_root"
            ),
            F.round("gini", 6).alias("gini_split"),
            F.when(2 * F.col("posl") >= F.col("nl"), 1)
            .otherwise(0)
            .alias("left_label"),
            F.when(2 * F.col("posr") >= F.col("nr"), 1)
            .otherwise(0)
            .alias("right_label"),
            F.round(
                (
                    F.greatest(F.col("posl"), F.col("nl") - F.col("posl"))
                    + F.greatest(
                        F.col("posr"), F.col("nr") - F.col("posr")
                    )
                )
                * 1.0
                / F.col("n"),
                6,
            ).alias("accuracy"),
            F.round("gini", 9).alias("_gini9"),
        )
        .orderBy("_gini9", "threshold")
        .limit(1)
        .drop("_gini9")
    )


_HILL_K = 100


@query(
    "q_agg_hill",
    # Top-(k+1) order statistics via a deterministic (value desc, key)
    # cutoff; each ln rounds to 9dp and enters an exact DECIMAL sum
    # (the ln-contract); alpha is one IEEE division chain; the
    # heavy-tail verdict is a literal-threshold comparison.
    oracle=f"""
WITH t AS (
  SELECT o_totalprice AS x, o_orderkey
  FROM orders ORDER BY o_totalprice DESC, o_orderkey
  LIMIT {_HILL_K + 1}
),
r AS (
  SELECT x, row_number() OVER (ORDER BY x DESC, o_orderkey) AS rk
  FROM t
),
thr AS (SELECT x AS xk FROM r WHERE rk = {_HILL_K + 1}),
s AS (
  SELECT CAST(sum(CAST(round(ln(r.x / thr.xk), 9) AS DECIMAL(18,9)))
              AS DOUBLE) AS slog,
         CAST(count(*) AS BIGINT) AS k
  FROM r CROSS JOIN thr WHERE r.rk <= {_HILL_K}
)
SELECT s.k, round(thr.xk, 6) AS threshold,
       round(s.slog / s.k, 6) AS mean_excess_log,
       round(s.k / s.slog, 6) AS hill_alpha,
       s.k / s.slog < 2.0 AS infinite_variance_tail
FROM s CROSS JOIN thr
""",
)
def q_agg_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator over the top-{k} order values:
    α̂ = k / Σ ln(x_(i)/x_(k+1)) — the extreme-value-theory answer to
    "HOW heavy is this tail" that moments can't give (a sample
    kurtosis exists even when the population's doesn't). α < 2 means
    infinite variance: means still converge but every variance-based
    statistic in the engine (t-tests, control limits, CIs) is
    formally broken on that column — the verdict that routes analysis
    to the robust family (q_anomaly_mad, q_agg_mannwhitney,
    q_winsorize). Complements q_profile_benford (digit law) and
    q_agg_skewkurt (finite-moment shape) as the TAIL diagnostic.

    Scale shape: the only data-sized work is one TakeOrderedAndProject
    for the top-(k+1) order statistics (per-task k-heaps — never a
    global sort); the estimator runs on the k-row frame under the
    ln-contract with a deterministic (value, key) cutoff tiebreak.
    """
    o = load_table(spark, sf_dir, "orders")
    top = (
        o.select(F.col("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.col("x").desc(), "o_orderkey")
        .limit(_HILL_K + 1)
    )
    r = top.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy(bounded_part(F.col("x"))).orderBy(
                F.col("x").desc(), "o_orderkey"
            )
        ),
    )
    thr = F.broadcast(
        r.filter(F.col("rk") == _HILL_K + 1).select(
            F.col("x").alias("xk")
        )
    )
    s = (
        r.filter(F.col("rk") <= _HILL_K)
        .crossJoin(thr)
        .agg(
            F.sum(
                F.round(F.log(F.col("x") / F.col("xk")), 9).cast(
                    "decimal(18,9)"
                )
            )
            .cast("double")
            .alias("slog"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    return s.crossJoin(thr).select(
        "k",
        F.round("xk", 6).alias("threshold"),
        F.round(F.col("slog") / F.col("k"), 6).alias("mean_excess_log"),
        F.round(F.col("k") / F.col("slog"), 6).alias("hill_alpha"),
        (F.col("k") / F.col("slog") < 2.0).alias(
            "infinite_variance_tail"
        ),
    )


q_agg_hill.__doc__ = q_agg_hill.__doc__.format(k=_HILL_K)


@query(
    "q_agg_robust_ttest",
    # Caps = POOLED exact percentiles (the q_agg_quantile contract),
    # rounded to 6dp BEFORE clamping so every winsorized value is
    # 6dp-exact and the DECIMAL power sums cannot hit a rounding tie;
    # Welch t on the capped values is one IEEE chain.
    oracle="""
WITH v AS (
  SELECT value,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS arm
  FROM events
),
caps AS (
  SELECT round(quantile_cont(value, 0.05), 6) AS lo,
         round(quantile_cont(value, 0.95), 6) AS hi
  FROM v
),
w AS (
  SELECT arm, least(greatest(v.value, caps.lo), caps.hi) AS wv
  FROM v CROSS JOIN caps
),
s AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(wv AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(wv * wv AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM w GROUP BY arm
),
p AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS n0,
    max(CASE WHEN arm = 0 THEN sx END) AS sx0,
    max(CASE WHEN arm = 0 THEN sxx END) AS sxx0,
    max(CASE WHEN arm = 1 THEN n END) AS n1,
    max(CASE WHEN arm = 1 THEN sx END) AS sx1,
    max(CASE WHEN arm = 1 THEN sxx END) AS sxx1
  FROM s
),
t AS (
  SELECT n0, n1,
    sx0 / n0 AS m0, sx1 / n1 AS m1,
    (sxx0 - sx0 * sx0 / n0) / (n0 - 1) AS v0,
    (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS v1
  FROM p WHERE n0 > 1 AND n1 > 1
)
SELECT n0, n1, caps.lo, caps.hi,
       round(m0, 6) AS mean_capped_a,
       round(m1, 6) AS mean_capped_b,
       round((m0 - m1) / sqrt(v0 / n0 + v1 / n1), 6) AS t_capped,
       abs((m0 - m1) / sqrt(v0 / n0 + v1 / n1)) > 1.96
         AS significant
FROM t CROSS JOIN caps
""",
)
def q_agg_robust_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized Welch t — the A/B readout that survives heavy tails:
    cap every value at the POOLED exact 5th/95th percentiles (pooled,
    so the transform cannot differ between arms and bias the
    comparison), then run the Welch statistic on the capped values.
    The industry-standard guard for revenue-style metrics where one
    whale flips q_agg_ttest's verdict — and the parametric companion
    to the fully-rank-based q_agg_mannwhitney (winsorizing keeps the
    metric's SCALE interpretable; ranks discard it). q_agg_hill tells
    you WHEN this op is mandatory (α < 2).

    Scale shape: one exact-percentile aggregate for the two pooled
    caps (a 1-row broadcast), one map-side clamp, one grouped pass of
    exact-DECIMAL power sums per arm, closed forms on the pivoted
    row. Caps round to 6dp BEFORE clamping so winsorized values stay
    6dp-exact and the decimal armor never meets a rounding tie.
    """
    e = load_table(spark, sf_dir, "events")
    byte = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    v = e.select("value", (byte % 2).alias("arm"))
    caps = F.broadcast(
        v.agg(
            F.round(F.percentile("value", F.lit(0.05)), 6).alias("lo"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("hi"),
        )
    )
    w = v.crossJoin(caps).select(
        "arm",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "wv"
        ),
    )
    s = w.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("wv").cast(DEC)).cast("double").alias("sx"),
        F.sum((F.col("wv") * F.col("wv")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    p = s.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{a}")
            for a in (0, 1)
            for c in ("n", "sx", "sxx")
        ]
    )
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    m0, m1 = F.col("sx0") / n0, F.col("sx1") / n1
    v0 = (F.col("sxx0") - F.col("sx0") * F.col("sx0") / n0) / (n0 - 1)
    v1 = (F.col("sxx1") - F.col("sx1") * F.col("sx1") / n1) / (n1 - 1)
    tstat = (m0 - m1) / F.sqrt(v0 / n0 + v1 / n1)
    return (
        p.filter((F.col("n0") > 1) & (F.col("n1") > 1))
        .crossJoin(caps)
        .select(
            "n0",
            "n1",
            "lo",
            "hi",
            F.round(m0, 6).alias("mean_capped_a"),
            F.round(m1, 6).alias("mean_capped_b"),
            F.round(tstat, 6).alias("t_capped"),
            (F.abs(tstat) > 1.96).alias("significant"),
        )
    )


_RIDGE_LAMBDAS = (0, 1, 10, 100, 1000)


@query(
    "q_ml_ridge",
    # One power-sum pass (exact DECIMAL, the q_ml_linreg doctrine);
    # the whole λ grid is arithmetic on that single row — slope(λ) =
    # Sxy_c/(Sxx_c + λ), every form the same IEEE chain per engine.
    oracle=f"""
WITH s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
              AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS sxy,
         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS syy
  FROM lineitem
),
c AS (
  SELECT n, sx / n AS xbar, sy / n AS ybar,
         sxx - sx * sx / n AS sxx_c,
         sxy - sx * sy / n AS sxy_c,
         syy - sy * sy / n AS syy_c
  FROM s WHERE n > 0
),
g AS (
  SELECT c.*, lam
  FROM c CROSS JOIN (SELECT unnest(ARRAY{list(_RIDGE_LAMBDAS)}) AS lam) l
),
f AS (
  SELECT lam, n, syy_c, sxy_c, sxx_c,
         sxy_c / (sxx_c + lam) AS b
  FROM g WHERE sxx_c + lam > 0
)
SELECT CAST(lam AS BIGINT) AS lambda,
       CAST(n AS BIGINT) AS n,
       round(b, 6) AS slope,
       round((SELECT ybar FROM c) - b * (SELECT xbar FROM c), 6)
         AS intercept,
       CASE WHEN syy_c > 0
            THEN round(1 - (syy_c - 2 * b * sxy_c + b * b * sxx_c)
                         / syy_c, 6) END AS r2,
       CASE WHEN sxx_c > 0 THEN round(b / (sxy_c / sxx_c), 6) END
         AS shrinkage
FROM f ORDER BY lambda
""",
)
def q_ml_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression path (extendedprice ~ quantity) across the λ
    grid {0, 1, 10, 100, 1000} — L2 shrinkage in closed form:
    slope(λ) = Sxy_c/(Sxx_c + λ). λ=0 reproduces the OLS fit
    (q_ml_linreg's single-regressor cut); the emitted `shrinkage`
    column (slope(λ)/slope_OLS) shows the coefficient path the
    regularization knob trades R² against — the "ML in SQL" answer to
    a hyperparameter SWEEP: at 100 TB you do not re-scan per λ, you
    scan ONCE for the power sums and evaluate every λ on one row.

    Scale shape: one partial-aggregated pass to six exact-DECIMAL
    power sums; the λ grid is a 5-literal explode against that single
    broadcast row. Degenerate designs (zero variance) drop out via
    the sxx_c + λ > 0 filter and NULL-guarded ratios.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    big = "decimal(38,6)"
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x * x).cast(big)).cast("double").alias("sxx"),
        F.sum((x * y).cast(big)).cast("double").alias("sxy"),
        F.sum((y * y).cast(big)).cast("double").alias("syy"),
    ).filter(F.col("n") > 0)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    c = s.select(
        "n",
        (sx / n).alias("xbar"),
        (sy / n).alias("ybar"),
        (F.col("sxx") - sx * sx / n).alias("sxx_c"),
        (F.col("sxy") - sx * sy / n).alias("sxy_c"),
        (F.col("syy") - sy * sy / n).alias("syy_c"),
    )
    g = c.select(
        "*",
        F.explode(
            F.array(*[F.lit(v) for v in _RIDGE_LAMBDAS])
        ).alias("lam"),
    ).filter(F.col("sxx_c") + F.col("lam") > 0)
    b = F.col("sxy_c") / (F.col("sxx_c") + F.col("lam"))
    return g.select(
        F.col("lam").cast("long").alias("lambda"),
        F.col("n").cast("long").alias("n"),
        F.round(b, 6).alias("slope"),
        F.round(F.col("ybar") - b * F.col("xbar"), 6).alias("intercept"),
        F.when(
            F.col("syy_c") > 0,
            F.round(
                1
                - (
                    F.col("syy_c")
                    - 2 * b * F.col("sxy_c")
                    + b * b * F.col("sxx_c")
                )
                / F.col("syy_c"),
                6,
            ),
        ).alias("r2"),
        F.when(
            F.col("sxx_c") > 0,
            F.round(b / (F.col("sxy_c") / F.col("sxx_c")), 6),
        ).alias("shrinkage"),
    ).orderBy("lambda")


_RAKE_ROUNDS = 3


def _raking_oracle_sql() -> str:
    """Unrolled IPF oracle (bounded-iteration contract): weights pass
    through 9dp-round-then-DECIMAL between steps so margin sums are
    order-free and both engines carry bit-identical round state."""
    steps = []
    prev = "w0"
    for k in range(1, _RAKE_ROUNDS + 1):
        steps.append(f"""
rm{k} AS (
  SELECT flag, CAST(sum(w) AS DOUBLE) AS m FROM {prev} GROUP BY flag
),
rw{k} AS (
  SELECT p.flag, p.status,
         CAST(round(CAST(p.w AS DOUBLE) * ((SELECT t FROM trow)
                                           / rm{k}.m), 9)
              AS DECIMAL(28,9)) AS w
  FROM {prev} p JOIN rm{k} USING (flag)
),
cm{k} AS (
  SELECT status, CAST(sum(w) AS DOUBLE) AS m FROM rw{k} GROUP BY status
),
w{k} AS (
  SELECT p.flag, p.status,
         CAST(round(CAST(p.w AS DOUBLE) * ((SELECT t FROM tcol)
                                           / cm{k}.m), 9)
              AS DECIMAL(28,9)) AS w
  FROM rw{k} p JOIN cm{k} USING (status)
)""")
        prev = f"w{k}"
    return f"""
WITH g AS MATERIALIZED (
  SELECT l_returnflag AS flag, l_linestatus AS status,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
),
nr AS (SELECT CAST(count(DISTINCT flag) AS BIGINT) AS k FROM g),
nc AS (SELECT CAST(count(DISTINCT status) AS BIGINT) AS k FROM g),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM g),
trow AS (SELECT CAST(tot.n AS DOUBLE) / nr.k AS t FROM tot, nr),
tcol AS (SELECT CAST(tot.n AS DOUBLE) / nc.k AS t FROM tot, nc),
w0 AS (SELECT flag, status, CAST(n AS DECIMAL(28,9)) AS w FROM g),
{",".join(steps)}
SELECT w.flag AS l_returnflag, w.status AS l_linestatus,
       g.n AS n_obs,
       round(CAST(w.w AS DOUBLE), 6) AS raked_weight,
       round(CAST(w.w AS DOUBLE) / g.n, 6) AS rake_factor
FROM {prev} w JOIN g ON g.flag = w.flag AND g.status = w.status
ORDER BY l_returnflag, l_linestatus
"""


@query("q_agg_raking", oracle=_raking_oracle_sql())
def q_agg_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking / iterative proportional fitting of the (returnflag ×
    linestatus) contingency grid to UNIFORM target margins — the
    survey-weighting workhorse (post-stratification when only margins
    are known): 3 alternating row/column scalings produce per-cell
    weights whose margins match the targets while preserving the
    observed interaction structure; `rake_factor` is the per-cell
    calibration a downstream weighted estimator multiplies in.
    The same loop body serves any margins — swap the uniform targets
    for census shares and this is exactly how production panels are
    calibrated.

    Scale shape: ONE map-combinable reduce collapses the fact table to
    the bounded |flags|×|statuses| grid; all 3 IPF rounds run on that
    dimension frame (margin sums over ≤6 DECIMAL cells — order-free by
    armor; scale steps identical IEEE chains, 9dp-rounded between
    steps per the bounded-iteration contract). Rounds are compile-time
    fixed, not data-dependent.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_linestatus").alias("status"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n")).localCheckpoint(
        eager=False
    )
    tot = g.agg(
        F.sum("n").cast("double").alias("tn"),
        F.countDistinct("flag").cast("double").alias("kr"),
        F.countDistinct("status").cast("double").alias("kc"),
    )
    t = F.broadcast(
        tot.select(
            (F.col("tn") / F.col("kr")).alias("t_row"),
            (F.col("tn") / F.col("kc")).alias("t_col"),
        )
    )
    w = g.select(
        "flag", "status", F.col("n").cast("decimal(28,9)").alias("w")
    )
    for _ in range(_RAKE_ROUNDS):
        rm = w.groupBy("flag").agg(F.sum("w").cast("double").alias("m"))
        w = (
            w.join(rm, "flag")
            .crossJoin(t)
            .select(
                "flag",
                "status",
                F.round(
                    F.col("w").cast("double")
                    * (F.col("t_row") / F.col("m")),
                    9,
                )
                .cast("decimal(28,9)")
                .alias("w"),
            )
        )
        cm = w.groupBy("status").agg(F.sum("w").cast("double").alias("m"))
        w = (
            w.join(cm, "status")
            .crossJoin(t)
            .select(
                "flag",
                "status",
                F.round(
                    F.col("w").cast("double")
                    * (F.col("t_col") / F.col("m")),
                    9,
                )
                .cast("decimal(28,9)")
                .alias("w"),
            )
        )
    return (
        w.join(g, ["flag", "status"])
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("status").alias("l_linestatus"),
            F.col("n").alias("n_obs"),
            F.round(F.col("w").cast("double"), 6).alias("raked_weight"),
            F.round(F.col("w").cast("double") / F.col("n"), 6).alias(
                "rake_factor"
            ),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_TOST_MARGIN_FRAC = 0.1  # equivalence margin δ = 10% of the pooled sd


@query(
    "q_agg_tost",
    # Same per-type power sums as q_agg_ttest; δ derives from the
    # pooled sd (one sqrt), the two one-sided t's are the same IEEE
    # chain, and the 1.645 one-sided critical value is a literal.
    oracle=f"""
WITH s AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n,
    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS na, b.n AS nb,
         a.sx / a.n AS ma, b.sx / b.n AS mb,
         (a.sxx - a.sx * a.sx / a.n) / (a.n - 1) AS va,
         (b.sxx - b.sx * b.sx / b.n) / (b.n - 1) AS vb
  FROM s a JOIN s b ON a.event_type < b.event_type
  WHERE a.n > 1 AND b.n > 1
),
t AS (
  SELECT type_a, type_b, na, nb, ma - mb AS d,
         sqrt(va / na + vb / nb) AS se,
         {_TOST_MARGIN_FRAC} * sqrt(((na - 1) * va + (nb - 1) * vb)
                                    / (na + nb - 2)) AS delta
  FROM p
)
SELECT type_a, type_b, na, nb,
       round(d, 6) AS mean_diff,
       round(delta, 6) AS margin,
       CASE WHEN se > 0 THEN round((d - delta) / se, 6) END AS t_upper,
       CASE WHEN se > 0 THEN round((d + delta) / se, 6) END AS t_lower,
       CASE WHEN se > 0
            THEN (d - delta) / se < -1.645 AND (d + delta) / se > 1.645
            ELSE false END AS equivalent
FROM t ORDER BY type_a, type_b
""",
)
def q_agg_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided t's) between every
    event-type pair — the readout q_agg_ttest CANNOT give: failing to
    reject "no difference" is not evidence of sameness, and rollout
    safety ("the new path changes the metric by less than δ") needs
    the hypotheses REVERSED. Both one-sided t's must clear the 1.645
    one-sided bound for the pair to be declared equivalent within
    δ = 10% of the pooled sd (Cohen's-d-scaled margin — the
    convention when no absolute margin is contracted).

    Scale shape: identical to q_agg_ttest — ONE partial-aggregated
    pass to per-type (n, Σx, Σx²) exact-DECIMAL power sums, a
    types×types dimension-frame pair join, closed forms per row.
    Degenerate pairs (n ≤ 1, zero variance) emit NULL t's and a false
    verdict, never a crash.
    """
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("sx"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    a, b = s.alias("a"), s.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    ma, mb = F.col("a.sx") / na, F.col("b.sx") / nb
    va = (F.col("a.sxx") - F.col("a.sx") * F.col("a.sx") / na) / (na - 1)
    vb = (F.col("b.sxx") - F.col("b.sx") * F.col("b.sx") / nb) / (nb - 1)
    d = ma - mb
    se = F.sqrt(va / na + vb / nb)
    delta = _TOST_MARGIN_FRAC * F.sqrt(
        ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
    )
    ok = se > 0
    return (
        a.join(
            b,
            (F.col("a.event_type") < F.col("b.event_type"))
            & (na > 1)
            & (nb > 1),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            na.alias("na"),
            nb.alias("nb"),
            F.round(d, 6).alias("mean_diff"),
            F.round(delta, 6).alias("margin"),
            F.when(ok, F.round((d - delta) / se, 6)).alias("t_upper"),
            F.when(ok, F.round((d + delta) / se, 6)).alias("t_lower"),
            F.when(
                ok,
                ((d - delta) / se < -1.645) & ((d + delta) / se > 1.645),
            )
            .otherwise(F.lit(False))
            .alias("equivalent"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_agg_effect_size",
    # Same power sums as q_agg_ttest; d/g are single IEEE chains and
    # the magnitude labels compare against literal cuts.
    oracle="""
WITH s AS (
  SELECT event_type,
    CAST(count(*) AS BIGINT) AS n,
    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS na, b.n AS nb,
         a.sx / a.n - b.sx / b.n AS d_raw,
         sqrt(((a.n - 1) * ((a.sxx - a.sx * a.sx / a.n) / (a.n - 1))
               + (b.n - 1) * ((b.sxx - b.sx * b.sx / b.n) / (b.n - 1)))
              / (a.n + b.n - 2)) AS sp
  FROM s a JOIN s b ON a.event_type < b.event_type
  WHERE a.n > 1 AND b.n > 1
)
SELECT type_a, type_b, na, nb,
       round(sp, 6) AS pooled_sd,
       CASE WHEN sp > 0 THEN round(d_raw / sp, 6) END AS cohens_d,
       CASE WHEN sp > 0
            THEN round((d_raw / sp)
                       * (1 - 3.0 / (4 * (na + nb) - 9)), 6) END
         AS hedges_g,
       CASE WHEN sp > 0 THEN
         CASE WHEN abs(d_raw / sp) < 0.2 THEN 'negligible'
              WHEN abs(d_raw / sp) < 0.5 THEN 'small'
              WHEN abs(d_raw / sp) < 0.8 THEN 'medium'
              ELSE 'large' END END AS magnitude
FROM p ORDER BY type_a, type_b
""",
)
def q_agg_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes (Cohen's d, small-sample-corrected
    Hedges' g, magnitude label) for every event-type value pair — the
    "significance is not importance" companion the t/TOST family
    needs: at 100 TB every difference is significant (n makes se → 0),
    and d is the number that stays meaningful because it scales by the
    POOLED SD, not the sample size. The conventional 0.2/0.5/0.8 cuts
    ship as an explicit label so dashboards stop re-deriving them.

    Scale shape: exactly q_agg_ttest's — one partial-aggregated
    power-sum pass, a types×types dimension pair frame, closed forms
    per row; zero-variance pairs emit NULLs, never a crash.
    """
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("sx"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    a, b = s.alias("a"), s.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    va = (F.col("a.sxx") - F.col("a.sx") * F.col("a.sx") / na) / (na - 1)
    vb = (F.col("b.sxx") - F.col("b.sx") * F.col("b.sx") / nb) / (nb - 1)
    d_raw = F.col("a.sx") / na - F.col("b.sx") / nb
    sp = F.sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
    d = d_raw / sp
    ok = sp > 0
    return (
        a.join(
            b,
            (F.col("a.event_type") < F.col("b.event_type"))
            & (na > 1)
            & (nb > 1),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            na.alias("na"),
            nb.alias("nb"),
            F.round(sp, 6).alias("pooled_sd"),
            F.when(ok, F.round(d, 6)).alias("cohens_d"),
            F.when(
                ok, F.round(d * (1 - 3.0 / (4 * (na + nb) - 9)), 6)
            ).alias("hedges_g"),
            F.when(
                ok,
                F.when(F.abs(d) < 0.2, "negligible")
                .when(F.abs(d) < 0.5, "small")
                .when(F.abs(d) < 0.8, "medium")
                .otherwise("large"),
            ).alias("magnitude"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_agg_bootstrap_diff",
    # The q_agg_bootstrap Poisson-weight device pointed at the DECISION
    # quantity: md5(user:b) weights, exact integer weighted sums per
    # (replicate, arm), one mean-diff double per replicate, rank-
    # selected percentile CI over the 32-row replicate frame.
    oracle=f"""
WITH u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS arm,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS m
  FROM events GROUP BY user_id
),
obs AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CASE WHEN sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
               AND sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
              THEN CAST(sum(CASE WHEN arm = 0 THEN m ELSE 0 END)
                        AS DOUBLE)
                   / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                   - CAST(sum(CASE WHEN arm = 1 THEN m ELSE 0 END)
                          AS DOUBLE)
                     / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) END
           AS d_obs
  FROM u
),
reps AS (
  SELECT u.user_id, u.arm, u.m, b.b,
         ('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':'
                             || CAST(b.b AS VARCHAR)), 1, 2))::UINTEGER
           AS h
  FROM u CROSS JOIN (
    SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b
  ) b
),
w AS (
  SELECT b, arm, m,
         CASE WHEN h < {_BOOT_THRESH[0]} THEN 0
              WHEN h < {_BOOT_THRESH[1]} THEN 1
              WHEN h < {_BOOT_THRESH[2]} THEN 2
              WHEN h < {_BOOT_THRESH[3]} THEN 3
              ELSE 4 END AS wt
  FROM reps
),
d AS (
  SELECT b,
    CASE WHEN sum(CASE WHEN arm = 0 THEN wt ELSE 0 END) > 0
          AND sum(CASE WHEN arm = 1 THEN wt ELSE 0 END) > 0
         THEN CAST(sum(CASE WHEN arm = 0 THEN wt * m ELSE 0 END)
                   AS DOUBLE)
              / sum(CASE WHEN arm = 0 THEN wt ELSE 0 END)
              - CAST(sum(CASE WHEN arm = 1 THEN wt * m ELSE 0 END)
                     AS DOUBLE)
                / sum(CASE WHEN arm = 1 THEN wt ELSE 0 END) END AS diff
  FROM w GROUP BY b
),
r AS (
  SELECT diff, row_number() OVER (ORDER BY diff, b) AS rk,
         count(*) OVER () AS nb_
  FROM d WHERE diff IS NOT NULL
),
ci AS (
  SELECT max(CASE WHEN rk = 2 THEN diff END) AS lo,
         max(CASE WHEN rk = nb_ - 1 THEN diff END) AS hi,
         CAST(max(nb_) AS BIGINT) AS n_reps
  FROM r
)
SELECT obs.na, obs.nb, round(obs.d_obs, 6) AS diff_obs,
       ci.n_reps,
       round(ci.lo, 6) AS ci_lo, round(ci.hi, 6) AS ci_hi,
       CASE WHEN ci.lo IS NOT NULL
            THEN ci.lo > 0 OR ci.hi < 0 ELSE false END
         AS excludes_zero
FROM obs CROSS JOIN ci
""",
)
def q_agg_bootstrap_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for the A/B DIFFERENCE in per-user purchase
    means — q_agg_bootstrap's device pointed at the decision quantity:
    per-group CIs can overlap while the paired-resample DIFFERENCE
    interval cleanly excludes zero (the classic overlapping-CIs
    fallacy), so the experiment readout should bootstrap the diff
    itself. 32 md5-seeded replicates (deterministic, retry-stable),
    replicate CI = the 2nd/31st order statistics, `excludes_zero` is
    the verdict; the t-based q_agg_ttest and rank-based
    q_agg_mannwhitney triangulate the same question under different
    assumptions — this one assumes only exchangeability of users.

    Scale shape: events reduce to ONE row per user; the ×32 fan-out
    collapses map-side to per-(replicate, arm) exact integer weighted
    sums (64 partials per task); replicate diffs are single double
    divisions; the CI is a rank selection over the 32-row frame.
    Degenerate replicates (an arm draws total weight 0) drop, and an
    empty feed yields NULLs, never a division crash.
    """
    e = load_table(spark, sf_dir, "events")

    def h2(expr):
        return F.conv(
            F.substring(F.md5(expr.cast("binary")), 1, 2), 16, 10
        ).cast("int")

    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("m")
    ).select(
        "user_id",
        "m",
        (h2(F.col("user_id").cast("string")) % 2).alias("arm"),
    )
    na = F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long")
    nb_ = F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long")
    sa = F.sum(F.when(F.col("arm") == 0, F.col("m")).otherwise(0))
    sb = F.sum(F.when(F.col("arm") == 1, F.col("m")).otherwise(0))
    obs = u.agg(
        na.alias("na"),
        nb_.alias("nb"),
        F.when(
            (na > 0) & (nb_ > 0),
            sa.cast("double") / na - sb.cast("double") / nb_,
        ).alias("d_obs"),
    )
    t = _BOOT_THRESH
    h = h2(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.col("b").cast("string"),
        )
    )
    wt = (
        F.when(h < t[0], 0)
        .when(h < t[1], 1)
        .when(h < t[2], 2)
        .when(h < t[3], 3)
        .otherwise(4)
    )
    reps = u.select(
        "m",
        "arm",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "user_id",
    ).select("b", "arm", "m", wt.alias("wt"))
    w0 = F.sum(F.when(F.col("arm") == 0, F.col("wt")).otherwise(0))
    w1 = F.sum(F.when(F.col("arm") == 1, F.col("wt")).otherwise(0))
    s0 = F.sum(
        F.when(F.col("arm") == 0, F.col("wt") * F.col("m")).otherwise(0)
    )
    s1 = F.sum(
        F.when(F.col("arm") == 1, F.col("wt") * F.col("m")).otherwise(0)
    )
    d = reps.groupBy("b").agg(
        F.when(
            (w0 > 0) & (w1 > 0),
            s0.cast("double") / w0 - s1.cast("double") / w1,
        ).alias("diff")
    ).filter(F.col("diff").isNotNull())
    wr = W.partitionBy(bounded_part(F.col("b"))).orderBy("diff", "b")
    r = d.select(
        "diff",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1))
        .over(
            W.partitionBy(bounded_part(F.col("b")))
            .orderBy("diff", "b")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        )
        .alias("nr"),
    )
    ci = r.agg(
        F.max(F.when(F.col("rk") == 2, F.col("diff"))).alias("lo"),
        F.max(
            F.when(F.col("rk") == F.col("nr") - 1, F.col("diff"))
        ).alias("hi"),
        F.max("nr").cast("long").alias("n_reps"),
    )
    return (
        obs.crossJoin(ci)
        .select(
            "na",
            "nb",
            F.round("d_obs", 6).alias("diff_obs"),
            "n_reps",
            F.round("lo", 6).alias("ci_lo"),
            F.round("hi", 6).alias("ci_hi"),
            F.when(
                F.col("lo").isNotNull(),
                (F.col("lo") > 0) | (F.col("hi") < 0),
            )
            .otherwise(F.lit(False))
            .alias("excludes_zero"),
        )
    )


@query(
    "q_agg_gpd_tail",
    # Threshold and excess moments come from exact DECIMAL power sums
    # (each per-row term 9dp/6dp-quantized before the order-free sum);
    # xi/sigma/quantile are ONE shared IEEE chain on a 1-row frame; the
    # power is written exp(xi*ln(...)) identically in both texts (never
    # pow(), whose libm implementations may differ).
    oracle="""
WITH s AS (
  SELECT CAST(count(value) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events WHERE value IS NOT NULL
),
u AS (
  SELECT n,
         (sx / n) + 2 * sqrt((sxx - sx * sx / n) / (n - 1)) AS thr
  FROM s WHERE n > 1
),
exc AS (
  SELECT u.n, u.thr,
         CAST(count(*) AS BIGINT) AS nu,
         CAST(sum(CAST(round(e.value - u.thr, 9) AS DECIMAL(28,12)))
              AS DOUBLE) AS se,
         CAST(sum(CAST(round((e.value - u.thr) * (e.value - u.thr), 6)
                       AS DECIMAL(38,12))) AS DOUBLE) AS see
  FROM events e CROSS JOIN u
  WHERE e.value IS NOT NULL AND e.value > u.thr
  GROUP BY 1, 2
),
fit AS (
  SELECT n, thr, nu,
         se / nu AS me,
         (see - se * se / nu) / (nu - 1) AS ve
  FROM exc WHERE nu > 1
),
g AS (
  SELECT n, thr, nu, me, ve,
         0.5 * (1 - me * me / ve) AS xi,
         0.5 * me * (me * me / ve + 1) AS sigma
  FROM fit WHERE ve > 0
)
SELECT n, nu AS n_exceed, round(thr, 6) AS threshold,
       round(xi, 6) AS xi, round(sigma, 6) AS sigma,
       round(CASE WHEN abs(xi) > 1e-12 THEN
         thr + (sigma / xi)
               * (exp(xi * ln((nu * 1.0 / n) / 0.001)) - 1)
       END, 6) AS q999
FROM g
""",
)
def q_agg_gpd_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold tail fit: Generalized Pareto Distribution
    on event-value excesses above mean + 2σ, method-of-moments
    (ξ = ½(1 − m²/v), σ = ½m(m²/v + 1)), publishing the extrapolated
    99.9th-percentile tail quantile — the extreme-value sibling of
    q_ts_return_level (block maxima → Gumbel) for the OTHER classical
    regime: all threshold exceedances → GPD. Empirical p99.9 needs
    1000+ points above the mark; POT borrows strength from every
    excess, and ξ itself is the tail verdict (ξ > 0 heavy/Pareto-like:
    no exponential bound; ξ < 0 bounded tail).

    Scale shape: two map-combinable passes (global power sums; excess
    power sums against the one-row broadcast threshold) with every
    float term 9dp/6dp-quantized into exact DECIMAL before summing;
    the fit is a closed-form chain on a 1-row frame, the power written
    exp(ξ·ln) — never pow(). n ≤ 1, no excesses, or zero excess
    spread emits nothing; ξ within 1e-12 of zero publishes a NULL
    quantile (the exponential-limit case) instead of dividing by it.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = e.agg(
        F.count("value").cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    ).filter(F.col("n") > 1)
    thr = (F.col("sx") / F.col("n")) + 2 * F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    u = F.broadcast(s.select("n", thr.alias("thr")))
    exc = (
        e.crossJoin(u)
        .filter(F.col("value") > F.col("thr"))
        .groupBy("n", "thr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nu"),
            F.sum(
                F.round(F.col("value") - F.col("thr"), 9).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias("se"),
            F.sum(
                F.round(
                    (F.col("value") - F.col("thr"))
                    * (F.col("value") - F.col("thr")),
                    6,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("see"),
        )
        .filter(F.col("nu") > 1)
    )
    me = F.col("se") / F.col("nu")
    ve = (F.col("see") - F.col("se") * F.col("se") / F.col("nu")) / (
        F.col("nu") - 1
    )
    g = exc.select(
        "n", "thr", "nu", me.alias("me"), ve.alias("ve")
    ).filter(F.col("ve") > 0)
    xi = 0.5 * (1 - F.col("me") * F.col("me") / F.col("ve"))
    sigma = 0.5 * F.col("me") * (
        F.col("me") * F.col("me") / F.col("ve") + 1
    )
    g2 = g.select("n", "thr", "nu", xi.alias("xi"), sigma.alias("sigma"))
    q999 = F.when(
        F.abs(F.col("xi")) > 1e-12,
        F.col("thr")
        + (F.col("sigma") / F.col("xi"))
        * (
            F.exp(
                F.col("xi")
                * F.log((F.col("nu") * 1.0 / F.col("n")) / 0.001)
            )
            - 1
        ),
    )
    return g2.select(
        "n",
        F.col("nu").alias("n_exceed"),
        F.round("thr", 6).alias("threshold"),
        F.round("xi", 6).alias("xi"),
        F.round("sigma", 6).alias("sigma"),
        F.round(q999, 6).alias("q999"),
    )


@query(
    "q_ml_residual_diag",
    # The OLS fit comes from exact BIGINT sums over the dense day
    # spine (x = 0..n-1, y = integer counts), so slope/intercept are
    # one shared IEEE chain; every residual term is 6dp-quantized into
    # DECIMAL before its order-free sum; SST is computed from the same
    # exact integer sums, not a float pass.
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS c
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
spine AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
x AS (
  SELECT s.day - b.d0 AS t, CAST(COALESCE(d.c, 0) AS BIGINT) AS y
  FROM spine s CROSS JOIN b LEFT JOIN d ON d.day = s.day
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(t * y) AS BIGINT) AS sxy,
         CAST(sum(t * t) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
  FROM x
),
fit AS (
  SELECT n, sy, syy,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope,
         (CAST(sy AS DOUBLE) / n)
           - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
             * (CAST(sx AS DOUBLE) / n) AS icept
  FROM m
  WHERE n > 2 AND CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n > 0
),
r AS (
  SELECT x.t, x.y - (fit.icept + fit.slope * x.t) AS e
  FROM x CROSS JOIN fit
),
rl AS (
  SELECT e, e - lag(e) OVER (ORDER BY t) AS de FROM r
),
rs AS (
  SELECT CAST(sum(CAST(round(e * e, 6) AS DECIMAL(38,12))) AS DOUBLE)
           AS sse,
         CAST(sum(CAST(round(de * de, 6) AS DECIMAL(38,12)))
           AS DOUBLE) AS dw_num
  FROM rl
)
SELECT fit.n AS n_days,
       round(fit.slope, 6) AS slope,
       round(fit.icept, 6) AS intercept,
       round(CASE WHEN CAST(fit.syy AS DOUBLE)
                       - CAST(fit.sy AS DOUBLE) * fit.sy / fit.n > 0
         THEN 1 - rs.sse / (CAST(fit.syy AS DOUBLE)
                            - CAST(fit.sy AS DOUBLE) * fit.sy / fit.n)
       END, 6) AS r2,
       round(CASE WHEN rs.sse > 0 THEN rs.dw_num / rs.sse END, 6) AS dw,
       CASE
         WHEN rs.sse <= 0 THEN 'degenerate'
         WHEN rs.dw_num / rs.sse < 1.5 THEN 'positive_autocorr'
         WHEN rs.dw_num / rs.sse > 2.5 THEN 'negative_autocorr'
         ELSE 'none'
       END AS autocorr_verdict
FROM fit CROSS JOIN rs
""",
)
def q_ml_residual_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression residual diagnostics for the daily-load trend fit:
    R² and the Durbin-Watson statistic on day-ordered residuals — the
    model-validation step q_ml_linreg's coefficients skip: a trend
    line over a time series is only trustworthy if its residuals are
    uncorrelated noise, and DW < 1.5 (positive autocorrelation) is the
    standard "your standard errors are fake, the series has structure
    the line missed" alarm — the formal cousin of what q_ts_hurst
    measures model-free. Fit, fit quality, and the independence
    verdict publish together so the line carries its own caveat.

    Scale shape: one map-combinable reduce to daily counts; ALL six
    OLS power sums are exact BIGINTs on the |days|-bounded spine; the
    residual pass and its lag window live on the bounded frame
    (fold-proof constant key); every squared-residual term is
    6dp-quantized into DECIMAL before the order-free sum. n ≤ 2 or a
    degenerate axis emits nothing; zero residual variance publishes
    the 'degenerate' verdict instead of dividing.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    # unhinted: bounds only seed the day spine; a hint here leaks into
    # the spine's left-join branch and is dropped (r10 hint audit)
    b = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = b.select(
        F.explode(F.sequence("d0", "d1")).alias("day"), "d0"
    )
    x = spine.join(d, "day", "left").select(
        (F.col("day") - F.col("d0")).alias("t"),
        F.coalesce("c", F.lit(0)).cast("long").alias("y"),
    )
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    dxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / F.col("n")
    slope = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    ) / dxx
    icept = (F.col("sy").cast("double") / F.col("n")) - slope * (
        F.col("sx").cast("double") / F.col("n")
    )
    fit = F.broadcast(
        m.filter((F.col("n") > 2) & (dxx > 0)).select(
            "n", "sy", "syy", slope.alias("slope"), icept.alias("icept")
        )
    )
    r = x.crossJoin(fit).select(
        "t",
        "n",
        "sy",
        "syy",
        "slope",
        "icept",
        (
            F.col("y") - (F.col("icept") + F.col("slope") * F.col("t"))
        ).alias("e"),
    )
    wl = W.partitionBy(bounded_part(F.col("t"))).orderBy("t")
    r2 = r.select(
        "n",
        "sy",
        "syy",
        "slope",
        "icept",
        "e",
        (F.col("e") - F.lag("e").over(wl)).alias("de"),
    )
    rs = r2.groupBy("n", "sy", "syy", "slope", "icept").agg(
        F.sum(F.round(F.col("e") * F.col("e"), 6).cast("decimal(38,12)"))
        .cast("double")
        .alias("sse"),
        F.sum(
            F.round(F.col("de") * F.col("de"), 6).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("dw_num"),
    )
    sst = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ) / F.col("n")
    dw = F.when(F.col("sse") > 0, F.col("dw_num") / F.col("sse"))
    return rs.select(
        F.col("n").alias("n_days"),
        F.round("slope", 6).alias("slope"),
        F.round("icept", 6).alias("intercept"),
        F.round(
            F.when(sst > 0, 1 - F.col("sse") / sst), 6
        ).alias("r2"),
        F.round(dw, 6).alias("dw"),
        F.when(F.col("sse") <= 0, "degenerate")
        .when(dw < 1.5, "positive_autocorr")
        .when(dw > 2.5, "negative_autocorr")
        .otherwise("none")
        .alias("autocorr_verdict"),
    )


_KFOLD_K = 5


@query(
    "q_ml_kfold_cv",
    # Fold assignment is the engine-shared md5 first-byte device; all
    # power sums are exact DECIMAL (products 6dp-quantized by the
    # decimal cast, identically in both engines); the per-fold fit AND
    # the held-out MSE are closed-form expansions of those sums — one
    # IEEE chain per fold row, no second data pass.
    oracle=f"""
WITH f AS (
  SELECT ('0x' || substr(md5(l_orderkey::VARCHAR || '-'
                             || l_linenumber::VARCHAR), 1, 2))::UINTEGER
           % {_KFOLD_K} AS fold,
         l_quantity AS x, l_extendedprice AS y
  FROM lineitem
),
per AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(28,6))) AS sx,
         sum(CAST(y AS DECIMAL(28,6))) AS sy,
         sum(CAST(x * x AS DECIMAL(38,6))) AS sxx,
         sum(CAST(x * y AS DECIMAL(38,6))) AS sxy,
         sum(CAST(y * y AS DECIMAL(38,6))) AS syy
  FROM f GROUP BY fold
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, sum(sx) AS tsx, sum(sy) AS tsy,
         sum(sxx) AS tsxx, sum(sxy) AS tsxy
  FROM per
),
fit AS (
  SELECT p.fold, p.n AS n_test, t.tn - p.n AS n_train,
         CAST(t.tsx - p.sx AS DOUBLE) AS rsx,
         CAST(t.tsy - p.sy AS DOUBLE) AS rsy,
         CAST(t.tsxx - p.sxx AS DOUBLE) AS rsxx,
         CAST(t.tsxy - p.sxy AS DOUBLE) AS rsxy,
         CAST(p.sx AS DOUBLE) AS fsx, CAST(p.sy AS DOUBLE) AS fsy,
         CAST(p.sxx AS DOUBLE) AS fsxx, CAST(p.sxy AS DOUBLE) AS fsxy,
         CAST(p.syy AS DOUBLE) AS fsyy
  FROM per p CROSS JOIN tot t
),
coef AS (
  SELECT fold, n_test, n_train,
         (rsxy - rsx * rsy / n_train)
           / (rsxx - rsx * rsx / n_train) AS b,
         (rsy / n_train)
           - ((rsxy - rsx * rsy / n_train)
              / (rsxx - rsx * rsx / n_train)) * (rsx / n_train) AS a,
         fsx, fsy, fsxx, fsxy, fsyy
  FROM fit
  WHERE n_train > 1 AND rsxx - rsx * rsx / n_train > 0
)
SELECT fold, n_train, n_test,
       round(b, 6) AS slope, round(a, 6) AS intercept,
       round((fsyy - 2 * a * fsy - 2 * b * fsxy + 2 * a * b * fsx
              + a * a * n_test + b * b * fsxx) / n_test, 4) AS test_mse
FROM coef WHERE n_test > 0 ORDER BY fold
""",
)
def q_ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation of the extendedprice ~ quantity
    regression (k = 5, md5-assigned folds): per fold, fit closed-form
    OLS on the OTHER four folds and publish the held-out MSE — the
    honest generalization number q_ml_linreg's in-sample R² is not,
    and the selection gate every "which feature/model" decision needs.
    Two algebraic moves make it one-pass-distributed: train sums are
    COMPLEMENT sums (total − fold, exact decimal subtraction, no
    per-fold re-scan), and the held-out MSE expands algebraically as
    Σ(y−a−bx)² = syy − 2a·sy − 2b·sxy + 2ab·sx + a²n + b²sxx — the
    test pass is free given the same sums that trained.

    Scale shape: ONE map-combinable aggregate pass to k×6 exact
    DECIMAL power sums (fold from the engine-shared md5 first-byte
    device — stable under retry/repartition/append); everything after
    is arithmetic on k rows. Degenerate folds (constant regressor,
    empty) drop out at the guards rather than emitting garbage.
    """
    li = load_table(spark, sf_dir, "lineitem")
    fold = (
        F.expr(
            "cast(conv(substr(md5(concat(cast(l_orderkey as string), '-', "
            "cast(l_linenumber as string))), 1, 2), 16, 10) as int)"
        )
        % _KFOLD_K
    )
    f = li.select(
        fold.alias("fold"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    per = f.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(28,6)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)")).alias("syy"),
    ).localCheckpoint(eager=False)  # feeds tot and the per-fold frame
    tot = F.broadcast(
        per.agg(
            F.sum("n").cast("long").alias("tn"),
            F.sum("sx").alias("tsx"),
            F.sum("sy").alias("tsy"),
            F.sum("sxx").alias("tsxx"),
            F.sum("sxy").alias("tsxy"),
        )
    )
    j = per.crossJoin(tot)
    n_train = (F.col("tn") - F.col("n")).alias("n_train")
    rsx = (F.col("tsx") - F.col("sx")).cast("double")
    rsy = (F.col("tsy") - F.col("sy")).cast("double")
    rsxx = (F.col("tsxx") - F.col("sxx")).cast("double")
    rsxy = (F.col("tsxy") - F.col("sxy")).cast("double")
    nt = F.col("tn") - F.col("n")
    dxx = rsxx - rsx * rsx / nt
    b = (rsxy - rsx * rsy / nt) / dxx
    a = (rsy / nt) - b * (rsx / nt)
    fsx = F.col("sx").cast("double")
    fsy = F.col("sy").cast("double")
    fsxx = F.col("sxx").cast("double")
    fsxy = F.col("sxy").cast("double")
    fsyy = F.col("syy").cast("double")
    mse = (
        fsyy
        - 2 * a * fsy
        - 2 * b * fsxy
        + 2 * a * b * fsx
        + a * a * F.col("n")
        + b * b * fsxx
    ) / F.col("n")
    return (
        j.filter((nt > 1) & (dxx > 0) & (F.col("n") > 0))
        .select(
            "fold",
            n_train,
            F.col("n").alias("n_test"),
            F.round(b, 6).alias("slope"),
            F.round(a, 6).alias("intercept"),
            F.round(mse, 4).alias("test_mse"),
        )
        .orderBy("fold")
    )


@query(
    "q_agg_icc",
    # Cluster power sums are exact DECIMALs; the per-cluster s²/n
    # rationals are 9dp-quantized into DECIMAL before the cross-
    # cluster sum; the ANOVA decomposition and ICC are one IEEE chain
    # on the single output row.
    oracle="""
WITH per AS (
  SELECT user_id, CAST(count(value) AS BIGINT) AS n,
         sum(CAST(value AS DECIMAL(28,6))) AS s
  FROM events WHERE value IS NOT NULL GROUP BY user_id
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(s) AS DOUBLE) AS ss,
         CAST(sum(n * n) AS BIGINT) AS sn2,
         CAST(sum(CAST(round(CAST(s AS DOUBLE) * s / n, 9)
                       AS DECIMAL(38,12))) AS DOUBLE) AS sb
  FROM per
),
sq AS (
  SELECT CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events WHERE value IS NOT NULL
),
f AS (
  SELECT k, nn,
         (sb - ss * ss / nn) / (k - 1) AS msb,
         (sxx - sb) / (nn - k) AS msw,
         (nn - sn2 * 1.0 / nn) / (k - 1) AS n0,
         nn * 1.0 / k AS mbar
  FROM tot CROSS JOIN sq
  WHERE k > 1 AND nn > k
)
SELECT k AS n_clusters, nn AS n_rows,
       round(msb, 6) AS msb, round(msw, 6) AS msw,
       round((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc,
       round(1 + (mbar - 1) * ((msb - msw) / (msb + (n0 - 1) * msw)), 6)
         AS design_effect
FROM f WHERE msb + (n0 - 1) * msw > 0
""",
)
def q_agg_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation of event values clustered by user
    (one-way random-effects ANOVA, unbalanced-design n₀ correction)
    plus the design effect 1 + (m̄−1)·ICC — the number that decides
    whether user-clustered data can be analyzed as if rows were
    independent: a design effect of 3 means every naive per-event CI
    in the suite is √3 too narrow, and the experiment family
    (q_events_experiment / q_events_ratio_ci / q_events_power)
    implicitly prices exactly this. Publishing MSB/MSW beside ICC
    keeps the decomposition auditable.

    Scale shape: one user-keyed map-combinable reduce to (n, Σx)
    per cluster with DECIMAL sums; the per-cluster s²/n rationals are
    9dp-armored before the cross-cluster reduce; one global Σx² pass;
    the fit is a closed-form chain on one row. Degenerate designs
    (k ≤ 1, no within-cluster replication, zero denominator) emit
    nothing.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    per = e.groupBy("user_id").agg(
        F.count("value").cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("double").alias("ss"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sn2"),
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s") / F.col("n"), 9
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sb"),
    )
    sq = F.broadcast(
        e.agg(
            F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx")
        )
    )
    j = tot.crossJoin(sq).filter(
        (F.col("k") > 1) & (F.col("nn") > F.col("k"))
    )
    msb = (F.col("sb") - F.col("ss") * F.col("ss") / F.col("nn")) / (
        F.col("k") - 1
    )
    msw = (F.col("sxx") - F.col("sb")) / (F.col("nn") - F.col("k"))
    n0 = (F.col("nn") - F.col("sn2") * 1.0 / F.col("nn")) / (F.col("k") - 1)
    mbar = F.col("nn") * 1.0 / F.col("k")
    icc = (msb - msw) / (msb + (n0 - 1) * msw)
    return (
        j.filter(msb + (n0 - 1) * msw > 0)
        .select(
            F.col("k").alias("n_clusters"),
            F.col("nn").alias("n_rows"),
            F.round(msb, 6).alias("msb"),
            F.round(msw, 6).alias("msw"),
            F.round(icc, 6).alias("icc"),
            F.round(1 + (mbar - 1) * icc, 6).alias("design_effect"),
        )
    )


@query(
    "q_agg_partial_corr",
    # All three pairwise correlations come from ONE pass of exact
    # DECIMAL power sums (products 6dp-quantized by the decimal cast);
    # the partial correlation is one IEEE chain on the single row.
    oracle="""
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sz,
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
              AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_extendedprice * l_extendedprice
                       AS DECIMAL(38,6))) AS DOUBLE) AS syy,
         CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,6)))
              AS DOUBLE) AS szz,
         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS sxy,
         CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
              AS DOUBLE) AS sxz,
         CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
              AS DOUBLE) AS syz
  FROM lineitem
),
r AS (
  SELECT n,
         (sxy - sx * sy / n)
           / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS rxy,
         (sxz - sx * sz / n)
           / sqrt((sxx - sx * sx / n) * (szz - sz * sz / n)) AS rxz,
         (syz - sy * sz / n)
           / sqrt((syy - sy * sy / n) * (szz - sz * sz / n)) AS ryz
  FROM s
  WHERE n > 2 AND sxx - sx * sx / n > 0 AND syy - sy * sy / n > 0
    AND szz - sz * sz / n > 0
)
SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
       round(ryz, 6) AS r_yz,
       round((rxy - rxz * ryz)
             / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
         AS partial_r_xy_given_z
FROM r WHERE (1 - rxz * rxz) * (1 - ryz * ryz) > 0
""",
)
def q_agg_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and extended price CONTROLLING
    for discount (r_xy·z via the three pairwise correlations) — the
    confounder check a raw correlation matrix (q_profile_corr) can't
    make: price and quantity can correlate purely because discount
    drives both, and the partial correlation is the two-line fix
    before anyone reads causality into a correlation cell. Publishing
    all three pairwise r's beside the partial makes the collapse
    visible (r_xy large, partial ≈ 0 = the discount explains it).

    Scale shape: ONE map-combinable pass to nine exact-DECIMAL power
    sums (the full 3-variable Gram triangle); everything after is a
    closed-form chain on one row. Degenerate variances or a
    ±1 control correlation emit nothing rather than dividing.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x, y, z = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")

    def dsum(c):
        return F.sum(c.cast("decimal(28,6)")).cast("double")

    def psum(a_, b_):
        return F.sum((a_ * b_).cast("decimal(38,6)")).cast("double")

    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(z).alias("sz"),
        psum(x, x).alias("sxx"),
        psum(y, y).alias("syy"),
        psum(z, z).alias("szz"),
        psum(x, y).alias("sxy"),
        psum(x, z).alias("sxz"),
        psum(y, z).alias("syz"),
    )
    n = F.col("n")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    vz = F.col("szz") - F.col("sz") * F.col("sz") / n
    rxy = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(vx * vy)
    rxz = (F.col("sxz") - F.col("sx") * F.col("sz") / n) / F.sqrt(vx * vz)
    ryz = (F.col("syz") - F.col("sy") * F.col("sz") / n) / F.sqrt(vy * vz)
    den = (1 - rxz * rxz) * (1 - ryz * ryz)
    return (
        s.filter((n > 2) & (vx > 0) & (vy > 0) & (vz > 0))
        .select(
            "n",
            F.round(rxy, 6).alias("r_xy"),
            F.round(rxz, 6).alias("r_xz"),
            F.round(ryz, 6).alias("r_yz"),
            den.alias("_den"),
            F.round((rxy - rxz * ryz) / F.sqrt(den), 6).alias(
                "partial_r_xy_given_z"
            ),
        )
        .filter(F.col("_den") > 0)
        .drop("_den")
    )


_TE_SMOOTH_M = 50.0  # m-estimate pseudo-count (empirical-Bayes prior mass)


@query(
    "q_ml_target_encoding",
    # Category counts and positive counts are exact integers; the
    # global prior and each smoothed rate are one IEEE chain per
    # category row (the m literal is exact).
    oracle=f"""
WITH base AS (
  SELECT event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS pos
  FROM base GROUP BY event_type
),
t AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS tp
  FROM g
)
SELECT g.event_type AS category, g.n, g.pos,
       round(g.pos * 1.0 / g.n, 6) AS raw_rate,
       round(t.tp * 1.0 / t.nn, 6) AS prior_rate,
       round((g.pos + {_TE_SMOOTH_M} * (t.tp * 1.0 / t.nn))
             / (g.n + {_TE_SMOOTH_M}), 6) AS smoothed_rate,
       round(g.n / (g.n + {_TE_SMOOTH_M}), 6) AS evidence_weight
FROM g CROSS JOIN t ORDER BY g.event_type
""",
)
def q_ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of a categorical feature (m-estimate /
    empirical-Bayes shrinkage toward the global prior): per category,
    the raw target rate, the prior, the shrunk encoding
    (pos + m·prior)/(n + m), and the evidence weight n/(n+m) — the
    standard leakage-resistant way to feed high-cardinality
    categoricals to a model (raw per-category rates overfit rare
    categories catastrophically: a category seen once encodes as
    exactly its own label). The published evidence weight makes the
    shrinkage auditable: rare categories sit near the prior, hot ones
    near their raw rate.

    Scale shape: ONE map-combinable reduce to per-category (n, pos)
    plus a 2-scalar prior broadcast; the encoding table is
    |categories| rows of closed-form arithmetic — the table is what
    ships to the feature store, a broadcast join back onto any fact.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy(F.col("event_type").alias("category")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("pos"),
    )
    t = F.broadcast(
        g.agg(
            F.sum("n").cast("long").alias("nn"),
            F.sum("pos").cast("long").alias("tp"),
        )
    )
    prior = F.col("tp") * 1.0 / F.col("nn")
    return (
        g.crossJoin(t)
        .select(
            "category",
            "n",
            "pos",
            F.round(F.col("pos") * 1.0 / F.col("n"), 6).alias("raw_rate"),
            F.round(prior, 6).alias("prior_rate"),
            F.round(
                (F.col("pos") + _TE_SMOOTH_M * prior)
                / (F.col("n") + _TE_SMOOTH_M),
                6,
            ).alias("smoothed_rate"),
            F.round(
                F.col("n") / (F.col("n") + _TE_SMOOTH_M), 6
            ).alias("evidence_weight"),
        )
        .orderBy("category")
    )


@query(
    "q_ml_conformal",
    # Train sums are exact complement DECIMALs (the k-fold device);
    # residuals are one IEEE chain per calibration row, 6dp-rounded
    # BEFORE the distinct-value spine so both engines rank identical
    # values; the conformal radius is an integer-rank selection.
    oracle=f"""
WITH f AS (
  SELECT ('0x' || substr(md5(l_orderkey::VARCHAR || '-'
                             || l_linenumber::VARCHAR), 1, 2))::UINTEGER
           % 5 AS fold,
         l_quantity AS x, l_extendedprice AS y
  FROM lineitem
),
tr AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM f WHERE fold <> 0
),
coef AS (
  SELECT n AS n_train,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
         (sy / n) - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
           * (sx / n) AS a
  FROM tr WHERE n > 1 AND sxx - sx * sx / n > 0
),
cal AS (
  SELECT round(abs(f.y - (coef.a + coef.b * f.x)), 6) AS r
  FROM f CROSS JOIN coef WHERE f.fold = 0
),
g AS (SELECT r, count(*) AS cnt FROM cal GROUP BY r),
c AS (
  SELECT r, CAST(sum(cnt) OVER (ORDER BY r) AS BIGINT) AS cum FROM g
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
q AS (
  SELECT min(CASE WHEN c.cum >= (nc.n_cal * 90 + 99) // 100
                  THEN c.r END) AS radius
  FROM c CROSS JOIN nc
)
SELECT coef.n_train, nc.n_cal,
       round(coef.b, 6) AS slope, round(coef.a, 6) AS intercept,
       round(q.radius, 6) AS conformal_radius_p90,
       round(2 * q.radius, 6) AS pi_width
FROM coef CROSS JOIN nc CROSS JOIN q WHERE nc.n_cal > 0
""",
)
def q_ml_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the price ~ quantity
    regression: fit on folds 1-4, take the exact p90 of absolute
    residuals on the held-out calibration fold — the conformal radius
    r such that ŷ ± r covers ~90% of future points with NO
    distributional assumption (the distribution-free guarantee
    q_ml_kfold_cv's MSE and q_ml_residual_diag's normal-theory SEs
    can't give; split conformal is the production-standard way to put
    honest error bars on any point predictor). The radius, not the
    MSE, is what an SLA on prediction error quotes.

    Scale shape: the train fit reuses the k-fold complement power-sum
    device (one DECIMAL aggregate pass); calibration residuals are
    one IEEE chain per row, 6dp-quantized BEFORE the distinct-value
    spine so both engines rank identical values; the p90 is a
    dist_cumsum integer-rank selection — no sort buffer at any
    calibration size. Degenerate fits or an empty calibration fold
    emit nothing.
    """
    li = load_table(spark, sf_dir, "lineitem")
    fold = (
        F.expr(
            "cast(conv(substr(md5(concat(cast(l_orderkey as string), '-', "
            "cast(l_linenumber as string))), 1, 2), 16, 10) as int)"
        )
        % 5
    )
    f = li.select(
        fold.alias("fold"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    ).localCheckpoint(eager=False)  # feeds train and calibration
    tr = f.filter(F.col("fold") != 0).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
    )
    dxx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    b = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / dxx
    a = (F.col("sy") / F.col("n")) - b * (F.col("sx") / F.col("n"))
    coef = F.broadcast(
        tr.filter((F.col("n") > 1) & (dxx > 0)).select(
            F.col("n").alias("n_train"), b.alias("b"), a.alias("a")
        )
    )
    cal = (
        f.filter(F.col("fold") == 0)
        .crossJoin(coef)
        .select(
            "n_train",
            "a",
            "b",
            F.round(
                F.abs(F.col("y") - (F.col("a") + F.col("b") * F.col("x"))), 6
            ).alias("r"),
        )
        .localCheckpoint(eager=False)  # feeds the spine and the count
    )
    g = cal.groupBy("r").agg(F.count(F.lit(1)).alias("cnt"))
    c = dist_cumsum(g, "r", ["cnt"])
    nc = F.broadcast(
        cal.agg(
            F.count(F.lit(1)).cast("long").alias("n_cal"),
            F.first("n_train").alias("n_train"),
            F.first("a").alias("a"),
            F.first("b").alias("b"),
        )
    )
    q = c.crossJoin(nc).agg(
        F.min(
            F.when(
                F.col("cum_cnt") >= F.expr("(n_cal * 90 + 99) div 100"),
                F.col("r"),
            )
        ).alias("radius")
    )
    return (
        nc.crossJoin(F.broadcast(q))
        .filter(F.col("n_cal") > 0)
        .select(
            "n_train",
            "n_cal",
            F.round("b", 6).alias("slope"),
            F.round("a", 6).alias("intercept"),
            F.round("radius", 6).alias("conformal_radius_p90"),
            F.round(F.col("radius") * 2, 6).alias("pi_width"),
        )
    )


# ---------------------------------------------------------------------------
# Survey ratio estimator with linearized (Taylor) standard error
# ---------------------------------------------------------------------------


@query(
    "q_agg_ratio_estimator",
    # Power sums are exact decimals (the q_agg_stats device: money ×
    # money products have ≤4 fractional decimals, so every cast is
    # exact and the sums are order-free); R, the residual sum of
    # squares syy − 2R·sxy + R²·sxx, and the Taylor SE are the same
    # IEEE expression text in both engines on those identical doubles.
    oracle="""
WITH s AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
         AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
         AS DOUBLE) AS syy,
    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
         AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
),
r AS (SELECT *, sy / nullif(sx, 0) AS rr FROM s)
SELECT l_returnflag, n,
  round(sy, 2) AS sum_price, round(sx, 2) AS sum_qty,
  round(rr, 6) AS price_per_unit,
  round(sqrt((syy - 2 * rr * sxy + rr * rr * sxx) / nullif(n - 1, 0))
        / nullif((sx / n) * sqrt(n), 0), 6) AS se,
  round(rr - 1.96 * (sqrt((syy - 2 * rr * sxy + rr * rr * sxx)
                          / nullif(n - 1, 0))
        / nullif((sx / n) * sqrt(n), 0)), 6) AS ci_lo,
  round(rr + 1.96 * (sqrt((syy - 2 * rr * sxy + rr * rr * sxx)
                          / nullif(n - 1, 0))
        / nullif((sx / n) * sqrt(n), 0)), 6) AS ci_hi
FROM r ORDER BY l_returnflag
""",
)
def q_agg_ratio_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey ratio estimator per return flag: revenue-per-unit
    R̂ = Σprice/Σqty with the linearized (Taylor) standard error
    SE = s_e/(x̄·√n), s_e² = Σ(y−R̂x)²/(n−1) — the design-based way to
    put a CI on any per-unit KPI ("are F-flag units priced differently,
    beyond noise"). Unlike a mean-of-ratios, the ratio-of-sums R̂ is
    what finance reconciles to, and its variance needs exactly this
    residual form — computed here from power sums, so NO second pass
    over the data: Σ(y−Rx)² = syy − 2R·sxy + R²·sxx.

    Scale shape: ONE partial-aggregated pass reduces the fact table to
    six exact decimal power sums per group; everything downstream is
    closed-form arithmetic on the bounded group grid. The same shape
    estimates totals from any probability sample at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(
            (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_extendedprice")).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("syy"),
        F.sum(
            (F.col("l_quantity") * F.col("l_extendedprice")).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("sxy"),
    )
    rr = F.col("sy") / F.nullif(F.col("sx"), F.lit(0.0))
    se = F.sqrt(
        (
            F.col("syy")
            - 2 * rr * F.col("sxy")
            + rr * rr * F.col("sxx")
        )
        / F.nullif(F.col("n") - 1, F.lit(0))
    ) / F.nullif(
        (F.col("sx") / F.col("n")) * F.sqrt(F.col("n")), F.lit(0.0)
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round("sy", 2).alias("sum_price"),
        F.round("sx", 2).alias("sum_qty"),
        F.round(rr, 6).alias("price_per_unit"),
        F.round(se, 6).alias("se"),
        F.round(rr - 1.96 * se, 6).alias("ci_lo"),
        F.round(rr + 1.96 * se, 6).alias("ci_hi"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Contingency-cell adjusted residuals (which cells drive the association)
# ---------------------------------------------------------------------------


@query(
    "q_agg_xtab_residuals", scan_repair=False,
    # Everything derives from exact integer counts: expected counts,
    # shares, and the adjusted residual are the same IEEE expression
    # on identical doubles; the verdict compares that identical value.
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS r, o_orderstatus AS col,
         CAST(count(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1, 2
),
rt AS (SELECT r, CAST(sum(obs) AS BIGINT) AS rn FROM c GROUP BY 1),
ct AS (SELECT col, CAST(sum(obs) AS BIGINT) AS cn FROM c GROUP BY 1),
n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c),
x AS (
  SELECT rt.r, ct.col, coalesce(c.obs, 0) AS obs, rt.rn, ct.cn, n.n,
         CAST(rt.rn AS DOUBLE) * ct.cn / n.n AS exp
  FROM rt CROSS JOIN ct CROSS JOIN n
  LEFT JOIN c ON c.r = rt.r AND c.col = ct.col
)
SELECT r AS o_orderpriority, col AS o_orderstatus, obs,
       round(exp, 6) AS expected,
       round((obs - exp) / nullif(sqrt(exp), 0), 6) AS std_residual,
       round((obs - exp)
             / nullif(sqrt(exp * (1 - CAST(rn AS DOUBLE) / n)
                           * (1 - CAST(cn AS DOUBLE) / n)), 0), 6)
         AS adj_residual,
       abs((obs - exp)
           / nullif(sqrt(exp * (1 - CAST(rn AS DOUBLE) / n)
                         * (1 - CAST(cn AS DOUBLE) / n)), 0)) > 1.96
         AS significant
FROM x ORDER BY o_orderpriority, o_orderstatus
""",
)
def q_agg_xtab_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table cell diagnostics: standardized and adjusted
    (Haberman) residuals of every priority × status cell — the
    follow-up q_agg_cramers' single association number begs for:
    WHICH cells are over/under-represented, with |adj| > 1.96 as the
    per-cell significance verdict. This is the "urgent orders fail
    disproportionately" finder, and the adjusted form corrects the
    std residual's variance deflation in small rows/columns.

    Scale shape: ONE map-combinable pass to the bounded r×c count
    grid; margins are two grid aggregates joined back small-side; all
    arithmetic is closed-form on exact integers. Nothing downstream
    of the first reduce is data-sized.
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderpriority").alias("r"),
        F.col("o_orderstatus").alias("col"),
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    rt = c.groupBy("r").agg(F.sum("obs").cast("long").alias("rn"))
    ct = c.groupBy("col").agg(F.sum("obs").cast("long").alias("cn"))
    n = F.broadcast(c.agg(F.sum("obs").cast("long").alias("n")))
    # dense margin grid: a structural-zero cell (obs = 0 with exp > 0)
    # is exactly the under-representation finding this op exists for —
    # it must appear in the output, so the grid is margins × margins,
    # not the observed cells
    grid = rt.crossJoin(F.broadcast(ct)).crossJoin(n)
    x = (
        grid.join(F.broadcast(c), ["r", "col"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
        .withColumn(
            "exp", F.col("rn").cast("double") * F.col("cn") / F.col("n")
        )
    )
    adj = (F.col("obs") - F.col("exp")) / F.nullif(
        F.sqrt(
            F.col("exp")
            * (1 - F.col("rn").cast("double") / F.col("n"))
            * (1 - F.col("cn").cast("double") / F.col("n"))
        ),
        F.lit(0.0),
    )
    return x.select(
        F.col("r").alias("o_orderpriority"),
        F.col("col").alias("o_orderstatus"),
        "obs",
        F.round("exp", 6).alias("expected"),
        F.round(
            (F.col("obs") - F.col("exp"))
            / F.nullif(F.sqrt(F.col("exp")), F.lit(0.0)),
            6,
        ).alias("std_residual"),
        F.round(adj, 6).alias("adj_residual"),
        (F.abs(adj) > 1.96).alias("significant"),
    ).orderBy("o_orderpriority", "o_orderstatus")


# ---------------------------------------------------------------------------
# Two-round histogram gradient boosting with depth-1 stumps
# ---------------------------------------------------------------------------

_GBM_THRESHOLDS = (5, 10, 15, 20, 25, 30, 35, 40, 45)


@query(
    "q_ml_gbm_stumps",
    # The histogram device: ONE raw pass reduces to per-value exact
    # decimal sums (n, Σy, Σy²); every candidate split is evaluated
    # by integer/decimal arithmetic on that ≤|values| grid; the argmax
    # is a (−gain, t) tuple-min on identical doubles; round-2
    # residual sums are 6dp-quantized into decimals so the second
    # histogram is order-free too. No RNG, no float divergence.
    oracle=f"""
WITH g AS (
  SELECT l_quantity AS x, CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS sy,
         SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
           AS syy
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(sy) AS DOUBLE) AS sy_t,
         CAST(sum(syy) AS DOUBLE) AS syy_t
  FROM g
),
c1 AS (
  SELECT t.t,
         CAST(sum(CASE WHEN g.x <= t.t THEN g.n ELSE 0 END) AS BIGINT)
           AS nl,
         CAST(sum(CASE WHEN g.x <= t.t THEN g.sy END) AS DOUBLE) AS syl
  FROM g, (SELECT unnest([{", ".join(str(t) for t in _GBM_THRESHOLDS)}])
           AS t) t
  GROUP BY 1
),
e1 AS (
  SELECT t, nl, nn - nl AS nr, syl, sy_t - syl AS syr,
         coalesce(syl * syl / nullif(nl, 0), 0)
         + coalesce((sy_t - syl) * (sy_t - syl) / nullif(nn - nl, 0), 0)
           AS gain
  FROM c1 CROSS JOIN tot
),
p1 AS (
  SELECT t AS t1, syl / nullif(nl, 0) AS mul1,
         syr / nullif(nr, 0) AS mur1,
         syy_t - sy_t * sy_t / nn AS sse0
  FROM (SELECT e1.*, tot.*,
               row_number() OVER (ORDER BY gain DESC, t) AS rn
        FROM e1 CROSS JOIN tot) WHERE rn = 1
),
r AS (
  SELECT g.x, g.n,
         CAST(round(CAST(g.sy AS DOUBLE)
                    - g.n * (CASE WHEN g.x <= p1.t1 THEN p1.mul1
                             ELSE p1.mur1 END), 6)
              AS DECIMAL(28,6)) AS rsum,
         CAST(round(CAST(g.syy AS DOUBLE)
                    - 2 * (CASE WHEN g.x <= p1.t1 THEN p1.mul1
                           ELSE p1.mur1 END) * CAST(g.sy AS DOUBLE)
                    + g.n * (CASE WHEN g.x <= p1.t1 THEN p1.mul1
                             ELSE p1.mur1 END)
                        * (CASE WHEN g.x <= p1.t1 THEN p1.mul1
                           ELSE p1.mur1 END), 6)
              AS DECIMAL(38,6)) AS rss
  FROM g CROSS JOIN p1
),
rt AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(rsum) AS DOUBLE) AS r_t,
         CAST(sum(rss) AS DOUBLE) AS sse1
  FROM r
),
c2 AS (
  SELECT t.t,
         CAST(sum(CASE WHEN r.x <= t.t THEN r.n ELSE 0 END) AS BIGINT)
           AS nl,
         CAST(sum(CASE WHEN r.x <= t.t THEN r.rsum END) AS DOUBLE) AS srl
  FROM r, (SELECT unnest([{", ".join(str(t) for t in _GBM_THRESHOLDS)}])
           AS t) t
  GROUP BY 1
),
e2 AS (
  SELECT t, nl, nn - nl AS nr, srl, r_t - srl AS srr,
         coalesce(srl * srl / nullif(nl, 0), 0)
         + coalesce((r_t - srl) * (r_t - srl) / nullif(nn - nl, 0), 0)
           AS red
  FROM c2 CROSS JOIN rt
),
p2 AS (
  SELECT t AS t2, srl / nullif(nl, 0) AS mul2,
         srr / nullif(nr, 0) AS mur2, red, sse1
  FROM (SELECT e2.*, rt.sse1,
               row_number() OVER (ORDER BY red DESC, t) AS rn
        FROM e2 CROSS JOIN rt) WHERE rn = 1
)
SELECT 1 AS round, CAST(t1 AS INT) AS split_t,
       round(mul1, 6) AS mu_left, round(mur1, 6) AS mu_right,
       round(sse0, 2) AS sse_before,
       round((SELECT sse1 FROM rt), 2) AS sse_after
FROM p1
UNION ALL
SELECT 2, CAST(t2 AS INT), round(mul2, 6), round(mur2, 6),
       round(sse1, 2), round(sse1 - red, 2)
FROM p2
ORDER BY round
""",
)
def q_ml_gbm_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two boosting rounds of depth-1 regression stumps predicting
    line price from quantity, histogram-style: round 1 fits the best
    single threshold split (of a fixed candidate grid — LightGBM's
    binned-feature discipline), round 2 fits a second stump to the
    residuals; each round reports its split, leaf means, and the SSE
    it inherited vs left behind. This is the minimal honest gradient-
    boosting machine — enough to read feature signal strength and
    curvature (round-2 split ≠ round-1 split ⇒ non-monotone
    structure) — and, more importantly here, the histogram TEMPLATE
    real distributed GBMs are built on.

    Scale shape: the ONLY raw-data pass is the per-value histogram
    (n, Σy, Σy²) — map-side combinable, |distinct x| rows out; every
    candidate split of every round is evaluated on that bounded grid
    (9 candidates × |values| fan-out), and each round's winner is a
    map-combinable (−gain, t) tuple-min, not a sort. Adding rounds or
    features multiplies GRID work, never raw-data passes — exactly
    the LightGBM recipe.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # r13 MEASURED REJECTION (guide §1.1 "a fresh implementation of the
    # ideal plan is usually slower at first"): the plan references this
    # grid from tot / c1 / the residual path / c2 — each a fresh
    # lineitem scan + groupBy — so a lazy localCheckpoint of the ≤50-row
    # grid looked like the obvious §1.2 move. The interleaved two-tree
    # A/B said NO: head 6.20 s median vs 3.13 s without it (sf0.1,
    # fresh-session warm medians of 5). The repeated scans run as
    # INDEPENDENT PARALLEL stages inside one job and overlap on idle
    # cores, while the checkpoint is a serial barrier that turns the
    # query into a chain of tiny latency-bound stages. The re-scan
    # redundancy is CPU, not wall clock, at every scale AQE coalesces
    # this shape; leave the grid uncheckpointed.
    g = li.groupBy(F.col("l_quantity").alias("x")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).alias("sy"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_extendedprice")).cast(
                "decimal(38,6)"
            )
        ).alias("syy"),
    )
    tot = F.broadcast(
        g.agg(
            F.sum("n").cast("long").alias("nn"),
            F.sum("sy").cast("double").alias("sy_t"),
            F.sum("syy").cast("double").alias("syy_t"),
        )
    )
    tarr = F.array(*[F.lit(t) for t in _GBM_THRESHOLDS])

    def cand(grid: DataFrame, sum_col: str, out: str) -> DataFrame:
        return (
            grid.select("*", F.explode(tarr).alias("t"))
            .groupBy("t")
            .agg(
                F.sum(F.when(F.col("x") <= F.col("t"), F.col("n")).otherwise(0))
                .cast("long")
                .alias("nl"),
                F.sum(F.when(F.col("x") <= F.col("t"), F.col(sum_col)))
                .cast("double")
                .alias(out),
            )
        )

    c1 = cand(g, "sy", "syl").crossJoin(tot)
    gain1 = F.coalesce(
        F.col("syl") * F.col("syl") / F.nullif(F.col("nl"), F.lit(0)),
        F.lit(0.0),
    ) + F.coalesce(
        (F.col("sy_t") - F.col("syl"))
        * (F.col("sy_t") - F.col("syl"))
        / F.nullif(F.col("nn") - F.col("nl"), F.lit(0)),
        F.lit(0.0),
    )
    p1 = F.broadcast(
        c1.select(
            F.struct(
                (-gain1).alias("ng"),
                F.col("t").alias("t1"),
                (
                    F.col("syl") / F.nullif(F.col("nl"), F.lit(0))
                ).alias("mul1"),
                (
                    (F.col("sy_t") - F.col("syl"))
                    / F.nullif(F.col("nn") - F.col("nl"), F.lit(0))
                ).alias("mur1"),
                (
                    F.col("syy_t")
                    - F.col("sy_t") * F.col("sy_t") / F.col("nn")
                ).alias("sse0"),
            ).alias("s")
        )
        .agg(F.min("s").alias("s"))
        .select("s.t1", "s.mul1", "s.mur1", "s.sse0")
    )
    pred = F.when(F.col("x") <= F.col("t1"), F.col("mul1")).otherwise(
        F.col("mur1")
    )
    r = g.crossJoin(p1).select(
        "x",
        "n",
        F.round(F.col("sy").cast("double") - F.col("n") * pred, 6)
        .cast("decimal(28,6)")
        .alias("rsum"),
        F.round(
            F.col("syy").cast("double")
            - 2 * pred * F.col("sy").cast("double")
            + F.col("n") * pred * pred,
            6,
        )
        .cast("decimal(38,6)")
        .alias("rss"),
    )
    rt = F.broadcast(
        r.agg(
            F.sum("n").cast("long").alias("nn"),
            F.sum("rsum").cast("double").alias("r_t"),
            F.sum("rss").cast("double").alias("sse1"),
        )
    )
    c2 = cand(
        r.withColumnRenamed("rsum", "sy2"), "sy2", "srl"
    ).crossJoin(rt)
    red2 = F.coalesce(
        F.col("srl") * F.col("srl") / F.nullif(F.col("nl"), F.lit(0)),
        F.lit(0.0),
    ) + F.coalesce(
        (F.col("r_t") - F.col("srl"))
        * (F.col("r_t") - F.col("srl"))
        / F.nullif(F.col("nn") - F.col("nl"), F.lit(0)),
        F.lit(0.0),
    )
    p2 = c2.select(
        F.struct(
            (-red2).alias("ng"),
            F.col("t").alias("t2"),
            (
                F.col("srl") / F.nullif(F.col("nl"), F.lit(0))
            ).alias("mul2"),
            (
                (F.col("r_t") - F.col("srl"))
                / F.nullif(F.col("nn") - F.col("nl"), F.lit(0))
            ).alias("mur2"),
            F.col("sse1").alias("sse1"),
        ).alias("s")
    ).agg(F.min("s").alias("s")).select(
        "s.t2", "s.mul2", "s.mur2", "s.sse1", (-F.col("s.ng")).alias("red")
    )
    row1 = p1.crossJoin(rt).select(
        F.lit(1).alias("round"),
        F.col("t1").cast("int").alias("split_t"),
        F.round("mul1", 6).alias("mu_left"),
        F.round("mur1", 6).alias("mu_right"),
        F.round("sse0", 2).alias("sse_before"),
        F.round("sse1", 2).alias("sse_after"),
    )
    row2 = p2.select(
        F.lit(2).alias("round"),
        F.col("t2").cast("int").alias("split_t"),
        F.round("mul2", 6).alias("mu_left"),
        F.round("mur2", 6).alias("mu_right"),
        F.round("sse1", 2).alias("sse_before"),
        F.round(F.col("sse1") - F.col("red"), 2).alias("sse_after"),
    )
    return row1.unionByName(row2).orderBy("round")


# ---------------------------------------------------------------------------
# Process capability indices (SPC: Cp / Cpk against spec limits)
# ---------------------------------------------------------------------------

_CPK_LSL = 0.0   # discount spec limits — pipeline config literals
_CPK_USL = 0.10


@query(
    "q_agg_cpk",
    # Mean and sample stddev come from exact decimal power sums (the
    # q_agg_stats device — discounts have ≤2 fractional decimals, so
    # every cast is exact); Cp/Cpk are the same IEEE chain on those
    # identical doubles; sqrt is correctly rounded in both engines.
    oracle=f"""
WITH s AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(28,6)))
              AS DOUBLE) AS sxx
  FROM lineitem GROUP BY 1
),
m AS (
  SELECT l_returnflag, n, sx / n AS mu,
         sqrt((sxx - sx * sx / n) / nullif(n - 1, 0)) AS sigma
  FROM s
)
SELECT l_returnflag, n, round(mu, 6) AS mean_disc,
       round(sigma, 6) AS stddev_disc,
       round(({_CPK_USL} - {_CPK_LSL}) / nullif(6 * sigma, 0), 6) AS cp,
       round(least({_CPK_USL} - mu, mu - {_CPK_LSL})
             / nullif(3 * sigma, 0), 6) AS cpk,
       least({_CPK_USL} - mu, mu - {_CPK_LSL})
         / nullif(3 * sigma, 0) >= 1.33 AS capable
FROM m ORDER BY l_returnflag
""",
)
def q_agg_cpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices per return flag against the discount
    spec band [{lsl}, {usl}]: Cp = (USL−LSL)/6σ (spread capability,
    centering ignored) and Cpk = min(USL−μ, μ−LSL)/3σ (what the
    process actually delivers given its centering), with the standard
    Cpk ≥ 1.33 capability verdict — the SPC complement to
    q_ts_control_chart: the chart asks "is the process stable over
    time", this asks "is the stable process even capable of the
    spec". Cp ≫ Cpk is the actionable case: a capable but off-center
    process fixed by re-centering, not variance reduction.

    Scale shape: ONE partial-aggregated pass to three exact decimal
    power sums per group (q_agg_stats device); the indices are
    closed-form on the bounded group grid.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_discount").cast("decimal(28,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(
            (F.col("l_discount") * F.col("l_discount")).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("sxx"),
    )
    mu = F.col("sx") / F.col("n")
    sigma = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / F.nullif(F.col("n") - 1, F.lit(0))
    )
    cpk = F.least(F.lit(_CPK_USL) - mu, mu - F.lit(_CPK_LSL)) / F.nullif(
        3 * sigma, F.lit(0.0)
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(mu, 6).alias("mean_disc"),
        F.round(sigma, 6).alias("stddev_disc"),
        F.round(
            (F.lit(_CPK_USL) - F.lit(_CPK_LSL))
            / F.nullif(6 * sigma, F.lit(0.0)),
            6,
        ).alias("cp"),
        F.round(cpk, 6).alias("cpk"),
        (cpk >= 1.33).alias("capable"),
    ).orderBy("l_returnflag")


q_agg_cpk.__doc__ = q_agg_cpk.__doc__.format(lsl=_CPK_LSL, usl=_CPK_USL)


# ---------------------------------------------------------------------------
# Sarle's bimodality coefficient (mixture screen from shape moments)
# ---------------------------------------------------------------------------


@query(
    "q_agg_bimodality",
    # The q_agg_jarque_bera exact power-sum device on l_extendedprice:
    # decimal sums to x^4, closed-form g1/g2 with the small-sample
    # correction, one IEEE expression both engines. 5/9 is the uniform
    # distribution's BC — the standard bimodality cut.
    oracle="""
WITH s AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
         AS DOUBLE) AS sxx,
    CAST(sum(CAST(l_extendedprice * l_extendedprice * l_extendedprice
                  AS DECIMAL(38,6))) AS DOUBLE) AS sx3,
    CAST(sum(CAST(l_extendedprice * l_extendedprice * l_extendedprice
                  * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sx4
  FROM lineitem GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag, n,
    (sx3 / n - 3 * (sx / n) * (sxx / n)
     + 2 * (sx / n) * (sx / n) * (sx / n))
      / power(sxx / n - (sx / n) * (sx / n), 1.5e0) AS g1,
    (sx4 / n - 4 * (sx / n) * (sx3 / n)
     + 6 * (sx / n) * (sx / n) * (sxx / n)
     - 3 * (sx / n) * (sx / n) * (sx / n) * (sx / n))
      / ((sxx / n - (sx / n) * (sx / n)) * (sxx / n - (sx / n) * (sx / n)))
      - 3 AS g2
  FROM s
)
SELECT l_returnflag, n,
       round(g1, 6) AS skewness,
       round(g2, 6) AS excess_kurtosis,
       round((g1 * g1 + 1)
             / (g2 + 3.0e0 * (n - 1) * (n - 1) / ((n - 2) * (n - 3))),
             6) AS bc,
       (g1 * g1 + 1)
         / (g2 + 3.0e0 * (n - 1) * (n - 1) / ((n - 2) * (n - 3)))
         > 0.5555555555555556e0 AS bimodal_leaning
FROM m ORDER BY l_returnflag
""",
)
def q_agg_bimodality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sarle's bimodality coefficient per return-flag group: BC =
    (g1² + 1)/(g2 + 3(n−1)²/((n−2)(n−3))), with BC > 5/9 (the uniform
    distribution's value) flagging a shape more bimodal than uniform —
    the one-pass mixture screen that says "this column is two
    populations glued together" (e.g. two price regimes, a bot+human
    blend) BEFORE anyone fits a mean to it. q_agg_jarque_bera rejects
    normality without saying why; BC points specifically at the
    two-bump failure mode that invalidates every unimodal summary.

    Scale shape: identical to q_agg_jarque_bera — ONE partial-
    aggregated pass of exact-decimal power sums to x⁴, closed forms
    per group, bounded output.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((x * x * x).cast("decimal(38,6)")).cast("double").alias("sx3"),
        F.sum((x * x * x * x).cast("decimal(38,6)"))
        .cast("double")
        .alias("sx4"),
    )
    n = F.col("n").cast("double")
    mean = F.col("sx") / n
    m2 = F.col("sxx") / n - mean * mean
    g1 = (
        F.col("sx3") / n - 3 * mean * (F.col("sxx") / n) + 2 * mean * mean * mean
    ) / F.pow(m2, 1.5)
    g2 = (
        F.col("sx4") / n
        - 4 * mean * (F.col("sx3") / n)
        + 6 * mean * mean * (F.col("sxx") / n)
        - 3 * mean * mean * mean * mean
    ) / (m2 * m2) - 3
    corr = 3.0 * (n - 1) * (n - 1) / ((n - 2) * (n - 3))
    bc = (g1 * g1 + 1) / (g2 + corr)
    return s.select(
        "l_returnflag",
        "n",
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("excess_kurtosis"),
        F.round(bc, 6).alias("bc"),
        (bc > 5.0 / 9.0).alias("bimodal_leaning"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Huber M-estimator of location (bounded-influence robust mean)
# ---------------------------------------------------------------------------

_HUBER_K = 1.345  # 95%-efficiency tuning constant
_HUBER_ITERS = 2  # fixed, documented IRLS step count


def _huber_iter_sql(it: int, prev: str) -> str:
    """One DuckDB IRLS step: psi-weights against the previous location,
    weighted sums on the 6dp/9dp decimal grids."""
    return f"""
w{it} AS (
  SELECT l_returnflag,
         CAST(sum(CAST(round(wgt, 9) AS DECIMAL(10,9))) AS DOUBLE) AS sw,
         CAST(sum(CAST(round(wgt * x, 6) AS DECIMAL(24,6))) AS DOUBLE) AS swx
  FROM (
    SELECT r.l_returnflag, r.x,
           least(1.0e0, {_HUBER_K} * m.s / nullif(abs(r.x - {prev}.mu), 0))
             AS wgt
    FROM raw r
    JOIN m ON m.l_returnflag = r.l_returnflag
    JOIN {prev} ON {prev}.l_returnflag = r.l_returnflag
  ) GROUP BY 1
),
mu{it} AS (
  SELECT l_returnflag, swx / nullif(sw, 0) AS mu FROM w{it}
)"""


def _huber_oracle() -> str:
    iters = ",".join(
        _huber_iter_sql(i, f"mu{i - 1}" if i > 1 else "mu0")
        for i in range(1, _HUBER_ITERS + 1)
    )
    return f"""
WITH raw AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
),
m AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / count(*)
      AS mean,
    sqrt(CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) / count(*)
         - (CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
            / count(*))
           * (CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
              / count(*))) AS s
  FROM lineitem GROUP BY 1
),
mu0 AS (SELECT l_returnflag, mean AS mu FROM m),
{iters}
SELECT m.l_returnflag, m.n,
       round(m.mean, 6) AS mean,
       round(mu{_HUBER_ITERS}.mu, 6) AS huber_mean,
       round(mu{_HUBER_ITERS}.mu - m.mean, 6) AS shift
FROM m JOIN mu{_HUBER_ITERS} USING (l_returnflag)
ORDER BY m.l_returnflag
"""


@query(
    "q_agg_huber",
    # Start = exact-decimal mean/population-sd; each of the 2
    # documented IRLS steps recomputes psi-weights w = min(1,
    # k*s/|x-mu|) as the identical IEEE double per row (mu, s are
    # identical doubles from exact sums; x is the raw column), then
    # snaps w to the 9dp and w*x to the 6dp decimal grid so BOTH
    # weighted sums are exact and order-free.
    oracle=_huber_oracle(),
)
def q_agg_huber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of the per-group price level (k = 1.345, two
    fixed IRLS steps from the mean): rows farther than k·σ from the
    current location keep only the weight k·σ/|x−μ|, so a fat tail
    moves the estimate boundedly instead of linearly — the
    production-grade center for skewed money columns, between the
    mean (efficient, fragile) and the median (robust, noisy).
    q_agg_trimmed_mean throws tail rows away; Huber DOWN-WEIGHTS
    them, keeping 95% Gaussian efficiency. The shift column is the
    actionable readout: how many dollars of the advertised mean are
    tail artifact.

    Scale shape: the start is ONE exact-decimal power-sum pass; each
    IRLS step is one more map-combinable weighted-sum pass over the
    raw rows with the (bounded) previous locations broadcast — 3
    linear passes total, no sort, no window, driver-free.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    nD = F.col("n").cast("double")
    m = m.select(
        "l_returnflag",
        "n",
        (F.col("sx") / nD).alias("mean"),
        F.sqrt(
            F.col("sxx") / nD - (F.col("sx") / nD) * (F.col("sx") / nD)
        ).alias("s"),
    )
    raw = li.select(
        "l_returnflag", x.cast("double").alias("x")
    )
    mu = m.select("l_returnflag", F.col("mean").alias("mu"))
    for _ in range(_HUBER_ITERS):
        j = raw.join(F.broadcast(m.select("l_returnflag", "s")), "l_returnflag").join(
            F.broadcast(mu), "l_returnflag"
        )
        wgt = F.least(
            F.lit(1.0),
            F.lit(_HUBER_K)
            * F.col("s")
            / F.nullif(F.abs(F.col("x") - F.col("mu")), F.lit(0.0)),
        )
        w = j.groupBy("l_returnflag").agg(
            F.sum(F.round(wgt, 9).cast("decimal(10,9)"))
            .cast("double")
            .alias("sw"),
            F.sum(F.round(wgt * F.col("x"), 6).cast("decimal(24,6)"))
            .cast("double")
            .alias("swx"),
        )
        mu = w.select(
            "l_returnflag",
            (F.col("swx") / F.nullif(F.col("sw"), F.lit(0.0))).alias("mu"),
        )
    return (
        m.join(mu, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            F.round("mean", 6).alias("mean"),
            F.round("mu", 6).alias("huber_mean"),
            F.round(F.col("mu") - F.col("mean"), 6).alias("shift"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Agreement / method-comparison statistics on the paired day panel
# (Lin's concordance + Deming errors-in-both-variables regression)
# ---------------------------------------------------------------------------
#
# Shared device: the per-day (x, y) panel of two event-type value sums.
# Each daily sum rides the exact DECIMAL grid (order-free), the
# second-level power sums quantize products at 6dp, and every closed
# form runs on ONE reduced row — the same two-level armor as
# q_agg_partial_corr. Reference parity note: the reference
# (async_data_pipeline.go:1-391) has no statistics surface at all;
# these extend the engine's §2B agreement family (kappa, ICC, TOST)
# with the two method-comparison classics.


def _day_panel(spark: SparkSession, sf_dir: str, tx: str, ty: str) -> DataFrame:
    """Per-day paired sums of two event types' values — only days where
    BOTH types occur (paired statistics need complete pairs). Scale
    shape: one map-combinable conditional aggregate onto the bounded
    day grid; the panel is |days| rows forever after."""
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts").cast("double") / 86400).cast("long")
    return (
        e.groupBy(day.alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == tx,
                    F.col("value").cast("decimal(28,6)"),
                )
            )
            .cast("double")
            .alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == ty,
                    F.col("value").cast("decimal(28,6)"),
                )
            )
            .cast("double")
            .alias("y"),
            F.count(F.when(F.col("event_type") == tx, 1)).alias("_nx"),
            F.count(F.when(F.col("event_type") == ty, 1)).alias("_ny"),
        )
        .filter((F.col("_nx") > 0) & (F.col("_ny") > 0))
        .select("day", "x", "y")
    )


_PANEL_SQL = """
SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
       CAST(sum(CASE WHEN event_type = '{tx}'
                     THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS x,
       CAST(sum(CASE WHEN event_type = '{ty}'
                     THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS y
FROM events GROUP BY 1
HAVING count(CASE WHEN event_type = '{tx}' THEN 1 END) > 0
   AND count(CASE WHEN event_type = '{ty}' THEN 1 END) > 0
"""

_PANEL_MOMENTS_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
       CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
       CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
       CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
       CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
FROM panel
"""


def _panel_moments(panel: DataFrame) -> DataFrame:
    return panel.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
    )


@query(
    "q_agg_ccc",
    # Population (1/n) moments from the 6dp panel grid; CCC, Pearson r
    # and the bias-correction factor C_b are one IEEE chain on the
    # single reduced row — identical doubles in both engines.
    oracle=f"""
WITH panel AS ({_PANEL_SQL.format(tx="view", ty="click")}),
s AS ({_PANEL_MOMENTS_SQL}),
m AS (
  SELECT n, sx / n AS mx, sy / n AS my,
         sxx / n - (sx / n) * (sx / n) AS vx,
         syy / n - (sy / n) * (sy / n) AS vy,
         sxy / n - (sx / n) * (sy / n) AS cxy
  FROM s WHERE n > 1
)
SELECT n AS n_days,
       round(mx, 6) AS mean_x, round(my, 6) AS mean_y,
       round(cxy / sqrt(vx * vy), 6) AS pearson_r,
       round(2e0 * cxy / (vx + vy + (mx - my) * (mx - my)), 6) AS ccc,
       round((2e0 * cxy / (vx + vy + (mx - my) * (mx - my)))
             / (cxy / sqrt(vx * vy)), 6) AS c_b
FROM m WHERE vx > 0 AND vy > 0 AND cxy != 0
""",
)
def q_agg_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient between the daily
    'view' and 'click' value totals — the method-comparison statistic
    Pearson's r cannot replace: r measures LINEAR association, CCC
    additionally penalizes location and scale shifts (two perfectly
    correlated series that disagree by 2x score r = 1, CCC ≈ 0.6).
    The published C_b = CCC/r factors the readout: C_b ≈ 1 means any
    disagreement is noise, C_b ≪ 1 means a systematic bias — the
    "is the new tracker measuring the same thing" gate run when a
    pipeline is re-instrumented.

    Scale shape: one map-combinable conditional aggregate reduces the
    fact table to the bounded day panel; five exact-decimal power sums
    reduce the panel to ONE row; the closed form is driver-free IEEE
    on that row. 100 TB cost = the one fact scan.
    """
    s = _panel_moments(_day_panel(spark, sf_dir, "view", "click"))
    n = F.col("n")
    mx, my = F.col("sx") / n, F.col("sy") / n
    vx = F.col("sxx") / n - mx * mx
    vy = F.col("syy") / n - my * my
    cxy = F.col("sxy") / n - mx * my
    ccc = F.lit(2.0) * cxy / (vx + vy + (mx - my) * (mx - my))
    return (
        s.filter(n > 1)
        .filter((vx > 0) & (vy > 0) & (cxy != 0))
        .select(
            n.alias("n_days"),
            F.round(mx, 6).alias("mean_x"),
            F.round(my, 6).alias("mean_y"),
            F.round(cxy / F.sqrt(vx * vy), 6).alias("pearson_r"),
            F.round(ccc, 6).alias("ccc"),
            F.round(ccc / (cxy / F.sqrt(vx * vy)), 6).alias("c_b"),
        )
    )


@query(
    "q_agg_deming",
    # Same two-level armor as q_agg_ccc; the Deming slope's radical
    # runs on the single reduced row, so sqrt/divide ordering is
    # identical IEEE in both engines.
    oracle=f"""
WITH panel AS ({_PANEL_SQL.format(tx="view", ty="purchase")}),
s AS ({_PANEL_MOMENTS_SQL}),
m AS (
  SELECT n, sx / n AS mx, sy / n AS my,
         sxx / n - (sx / n) * (sx / n) AS vx,
         syy / n - (sy / n) * (sy / n) AS vy,
         sxy / n - (sx / n) * (sy / n) AS cxy
  FROM s WHERE n > 1
)
SELECT n AS n_days,
       round((vy - vx + sqrt((vy - vx) * (vy - vx)
                             + 4e0 * cxy * cxy)) / (2e0 * cxy), 6)
         AS slope_deming,
       round(my - ((vy - vx + sqrt((vy - vx) * (vy - vx)
                                   + 4e0 * cxy * cxy)) / (2e0 * cxy)) * mx,
             6) AS intercept_deming,
       round(cxy / vx, 6) AS slope_ols,
       round(vy / cxy, 6) AS slope_inverse_ols
FROM m WHERE vx > 0 AND vy > 0 AND cxy != 0
""",
)
def q_agg_deming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (errors-in-both-variables, λ = 1) regression of daily
    'purchase' value on daily 'view' value — the line OLS cannot give
    when BOTH axes are noisy measurements: OLS attenuates the slope
    toward 0 by var(noise_x)/var(x), so calibrating one instrument
    against another with OLS systematically under-corrects. The
    published bracket [slope_ols, slope_inverse_ols] is the classic
    attenuation envelope — Deming's slope always lands inside it, and
    the bracket width IS the measurement-noise readout.

    Scale shape: identical to q_agg_ccc — fact scan → bounded day
    panel → five power sums → one-row closed form (the quadratic's
    positive root). Nothing downstream of the first reduce scales
    with data.
    """
    s = _panel_moments(_day_panel(spark, sf_dir, "view", "purchase"))
    n = F.col("n")
    mx, my = F.col("sx") / n, F.col("sy") / n
    vx = F.col("sxx") / n - mx * mx
    vy = F.col("syy") / n - my * my
    cxy = F.col("sxy") / n - mx * my
    slope = (
        vy - vx + F.sqrt((vy - vx) * (vy - vx) + F.lit(4.0) * cxy * cxy)
    ) / (F.lit(2.0) * cxy)
    return (
        s.filter(n > 1)
        .filter((vx > 0) & (vy > 0) & (cxy != 0))
        .select(
            n.alias("n_days"),
            F.round(slope, 6).alias("slope_deming"),
            F.round(my - slope * mx, 6).alias("intercept_deming"),
            F.round(cxy / vx, 6).alias("slope_ols"),
            F.round(vy / cxy, 6).alias("slope_inverse_ols"),
        )
    )


@query(
    "q_ml_vif",
    # The same nine exact-DECIMAL Gram sums as q_agg_partial_corr
    # (deliberately — one Gram triangle, two readouts); each feature's
    # R² and VIF are the 3-variable closed form on the single row.
    oracle="""
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sz,
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
              AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_extendedprice * l_extendedprice
                       AS DECIMAL(38,6))) AS DOUBLE) AS syy,
         CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,6)))
              AS DOUBLE) AS szz,
         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS sxy,
         CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
              AS DOUBLE) AS sxz,
         CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
              AS DOUBLE) AS syz
  FROM lineitem
),
r AS (
  SELECT (sxy - sx * sy / n)
           / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS rxy,
         (sxz - sx * sz / n)
           / sqrt((sxx - sx * sx / n) * (szz - sz * sz / n)) AS rxz,
         (syz - sy * sz / n)
           / sqrt((syy - sy * sy / n) * (szz - sz * sz / n)) AS ryz
  FROM s
  WHERE n > 3 AND sxx - sx * sx / n > 0 AND syy - sy * sy / n > 0
    AND szz - sz * sz / n > 0
),
v AS (
  SELECT 'l_quantity' AS feature,
         (rxy * rxy + rxz * rxz - 2e0 * rxy * rxz * ryz)
           / (1e0 - ryz * ryz) AS r2
  FROM r WHERE 1e0 - ryz * ryz > 0
  UNION ALL
  SELECT 'l_extendedprice',
         (rxy * rxy + ryz * ryz - 2e0 * rxy * ryz * rxz)
           / (1e0 - rxz * rxz)
  FROM r WHERE 1e0 - rxz * rxz > 0
  UNION ALL
  SELECT 'l_discount',
         (rxz * rxz + ryz * ryz - 2e0 * rxz * ryz * rxy)
           / (1e0 - rxy * rxy)
  FROM r WHERE 1e0 - rxy * rxy > 0
)
SELECT feature, round(r2, 6) AS r_squared_others,
       round(1e0 / (1e0 - r2), 6) AS vif
FROM v WHERE r2 < 1e0 ORDER BY feature
""",
)
def q_ml_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for the three lineitem pricing
    features — the multicollinearity screen run before ANY linear
    model (q_ml_linreg / q_ml_ridge / q_ml_logreg here): VIF_i =
    1/(1-R²_i) where R²_i regresses feature i on the others. VIF > 5
    means the coefficient's variance is 5x what independent features
    would give — the model's weights are unidentifiable noise even
    though its predictions look fine, the classic silent failure of
    feature-screening pipelines.

    Scale shape: ONE map-combinable pass to the nine exact-DECIMAL
    Gram sums (shared shape with q_agg_partial_corr — same triangle,
    different readout); the 3-variable matrix inverse is closed-form
    on one row, exploded to the bounded 3-row feature grid. At any
    scale the cost is the single fact scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x, y, z = (
        F.col("l_quantity"),
        F.col("l_extendedprice"),
        F.col("l_discount"),
    )

    def dsum_(c):
        return F.sum(c.cast("decimal(28,6)")).cast("double")

    def psum(a_, b_):
        return F.sum((a_ * b_).cast("decimal(38,6)")).cast("double")

    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum_(x).alias("sx"),
        dsum_(y).alias("sy"),
        dsum_(z).alias("sz"),
        psum(x, x).alias("sxx"),
        psum(y, y).alias("syy"),
        psum(z, z).alias("szz"),
        psum(x, y).alias("sxy"),
        psum(x, z).alias("sxz"),
        psum(y, z).alias("syz"),
    )
    n = F.col("n")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    vz = F.col("szz") - F.col("sz") * F.col("sz") / n
    rxy = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(vx * vy)
    rxz = (F.col("sxz") - F.col("sx") * F.col("sz") / n) / F.sqrt(vx * vz)
    ryz = (F.col("syz") - F.col("sy") * F.col("sz") / n) / F.sqrt(vy * vz)
    two = F.lit(2.0)
    one = F.lit(1.0)
    r2_x = (rxy * rxy + rxz * rxz - two * rxy * rxz * ryz) / (
        one - ryz * ryz
    )
    r2_y = (rxy * rxy + ryz * ryz - two * rxy * ryz * rxz) / (
        one - rxz * rxz
    )
    r2_z = (rxz * rxz + ryz * ryz - two * rxz * ryz * rxy) / (
        one - rxy * rxy
    )
    base = s.filter((n > 3) & (vx > 0) & (vy > 0) & (vz > 0))
    rows = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_quantity").alias("feature"),
                    r2_x.alias("r2"),
                    (one - ryz * ryz).alias("den"),
                ),
                F.struct(
                    F.lit("l_extendedprice").alias("feature"),
                    r2_y.alias("r2"),
                    (one - rxz * rxz).alias("den"),
                ),
                F.struct(
                    F.lit("l_discount").alias("feature"),
                    r2_z.alias("r2"),
                    (one - rxy * rxy).alias("den"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    return (
        rows.filter((F.col("den") > 0) & (F.col("r2") < 1.0))
        .select(
            "feature",
            F.round("r2", 6).alias("r_squared_others"),
            F.round(one / (one - F.col("r2")), 6).alias("vif"),
        )
        .orderBy("feature")
    )


@query(
    "q_agg_welch",
    # Per-group moments ride the exact DECIMAL grid; the per-group
    # weight w=n/s² snaps to a 9dp grid BEFORE any cross-group sum,
    # and every cross-group accumulation is a rounded-DECIMAL sum, so
    # the k-row reductions are order-free in both engines; the Welch
    # F / df₂ closed form is IEEE on one row.
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
),
w AS (
  SELECT n, sx / n AS m,
         round(n / ((sxx - sx * sx / n) / (n - 1)), 9) AS w9
  FROM g
  WHERE n > 1 AND (sxx - sx * sx / n) / (n - 1) > 0
),
s1 AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_tot,
         CAST(sum(CAST(w9 AS DECIMAL(38,9))) AS DOUBLE) AS sw,
         CAST(sum(CAST(round(w9 * m, 6) AS DECIMAL(38,6))) AS DOUBLE) AS swm
  FROM w
),
s2 AS (
  SELECT s1.k, s1.n_tot, s1.sw, s1.swm,
         CAST(sum(CAST(round(w.w9 * (w.m - s1.swm / s1.sw)
                             * (w.m - s1.swm / s1.sw), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS sa,
         CAST(sum(CAST(round((1e0 - w.w9 / s1.sw) * (1e0 - w.w9 / s1.sw)
                             / (w.n - 1), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS sb
  FROM w CROSS JOIN s1
  GROUP BY s1.k, s1.n_tot, s1.sw, s1.swm
)
SELECT k, n_tot, k - 1 AS df1,
       round(swm / sw, 6) AS grand_mean_weighted,
       round((k * k - 1e0) / (3e0 * sb), 6) AS df2,
       round((sa / (k - 1))
             / (1e0 + 2e0 * (k - 2) / (k * k - 1e0) * sb), 6)
         AS f_welch,
       (sa / (k - 1))
         / (1e0 + 2e0 * (k - 2) / (k * k - 1e0) * sb) > 3.32e0
         AS significant_1pct
FROM s2 WHERE k > 1 AND sb > 0
""",
)
def q_agg_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic ANOVA of value across event types — the
    unequal-variance form q_agg_anova's classic F silently gets wrong:
    when group variances differ (exactly what q_agg_levene tests), the
    pooled-variance F's real type-I rate can be several times nominal,
    and Welch's variance-weighted statistic with Satterthwaite df is
    the standard repair. Published beside anova + levene it completes
    the one-way-comparison panel: levene says WHETHER variances
    differ, this says whether MEANS differ given that they do.

    Scale shape: one map-combinable pass to per-type exact-DECIMAL
    power sums (the bounded type grid); the weight/mean reductions are
    rounded-decimal sums over k rows (order-free), the grand weighted
    mean broadcast back for the two second-pass sums; closed form on
    one row. Nothing after the first reduce scales with data.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    w = (
        g.filter((F.col("n") > 1) & (var > 0))
        .select(
            "n",
            (F.col("sx") / F.col("n")).alias("m"),
            F.round(F.col("n") / var, 9).alias("w9"),
        )
        .localCheckpoint(eager=False)  # bounded type grid, read twice
    )
    s1 = w.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(F.col("w9").cast("decimal(38,9)")).cast("double").alias("sw"),
        F.sum(F.round(F.col("w9") * F.col("m"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("swm"),
    )
    mw = F.col("swm") / F.col("sw")
    s2 = (
        w.crossJoin(F.broadcast(s1))
        .groupBy("k", "n_tot", "sw", "swm")
        .agg(
            F.sum(
                F.round(
                    F.col("w9") * (F.col("m") - mw) * (F.col("m") - mw), 6
                ).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("sa"),
            F.sum(
                F.round(
                    (F.lit(1.0) - F.col("w9") / F.col("sw"))
                    * (F.lit(1.0) - F.col("w9") / F.col("sw"))
                    / (F.col("n") - 1),
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("sb"),
        )
    )
    k = F.col("k")
    fw = (F.col("sa") / (k - 1)) / (
        F.lit(1.0)
        + F.lit(2.0) * (k - 2) / (k * k - F.lit(1.0)) * F.col("sb")
    )
    return (
        s2.filter((k > 1) & (F.col("sb") > 0))
        .select(
            "k",
            "n_tot",
            (k - 1).alias("df1"),
            F.round(mw, 6).alias("grand_mean_weighted"),
            F.round(
                (k * k - F.lit(1.0)) / (F.lit(3.0) * F.col("sb")), 6
            ).alias("df2"),
            F.round(fw, 6).alias("f_welch"),
            (fw > F.lit(3.32)).alias("significant_1pct"),
        )
    )


@query(
    "q_agg_kruskal",
    # Same doubled-midrank device as q_agg_mannwhitney, k groups: the
    # rank-sum per group accumulates 2·midrank as exact BIGINTs on the
    # distinct-value spine; the only floats are the one closed form at
    # the end (per-group R²/n terms round to 6dp and sum as DECIMAL so
    # the bounded-group reduction is order-free).
    oracle="""
WITH per_v AS (
  SELECT value, CAST(count(*) AS BIGINT) AS tie FROM events GROUP BY 1
),
cum AS (
  SELECT value, tie,
         CAST(SUM(tie) OVER (ORDER BY value) AS BIGINT) AS cum_tie
  FROM per_v
),
per_vt AS (
  SELECT value, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
per_g AS (
  SELECT t.event_type,
         CAST(sum(t.cnt * (2 * c.cum_tie - c.tie + 1)) AS BIGINT) AS r2,
         CAST(sum(t.cnt) AS BIGINT) AS n_i
  FROM per_vt t JOIN cum c ON t.value = c.value
  GROUP BY 1
),
ties AS (
  SELECT CAST(sum(tie * tie * tie - tie) AS BIGINT) AS tsum,
         CAST(sum(tie) AS BIGINT) AS n
  FROM per_v
),
s AS (
  SELECT CAST(sum(CAST(round((CAST(r2 AS DOUBLE) / 2)
                              * (CAST(r2 AS DOUBLE) / 2) / n_i, 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS sumsq,
         CAST(count(*) AS INTEGER) AS k
  FROM per_g
)
SELECT n, k,
       round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * sumsq
             - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h,
       CASE WHEN n > 1 THEN
         round(1.0 - CAST(tsum AS DOUBLE) / CAST(n * n * n - n AS DOUBLE), 9)
       END AS tie_correction,
       CASE WHEN n > 1
             AND round(1.0 - CAST(tsum AS DOUBLE)
                       / CAST(n * n * n - n AS DOUBLE), 9) <> 0.0e0 THEN
         round(round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                     * sumsq - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6)
               / round(1.0 - CAST(tsum AS DOUBLE)
                       / CAST(n * n * n - n AS DOUBLE), 9), 6)
       END AS h_corrected
FROM s, ties
""",
)
def q_agg_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL event types' value distributions —
    the k-group generalization of q_agg_mannwhitney (two groups) and
    the rank twin of q_agg_anova exactly as mannwhitney is of
    q_agg_ttest: ANOVA follows means (outliers drag it), KW follows
    the bulk; run both and a disagreement IS the skew finding. Ties
    get exact midranks and the standard (1 − Σ(t³−t)/(N³−N))
    correction.

    Scale shape (distributed-exact, fused r13): ONE data-sized
    exchange. The r12 form built the spine with two groupBys (value,
    then value×type), dist_cumsum's checkpoint + _pid exchange, and a
    value-keyed join to attach ranks — four-plus data-sized exchanges.
    The fused device (the q_agg_spearman pattern): bucket boundaries
    from a map-side GK sketch over RAW values, per-bucket offsets from
    a map-side raw-row count per bucket, then one explicit
    ``repartition(_pid)`` that EVERYTHING downstream reuses — the
    (bucket, value, type) rollup (ClusteredDistribution satisfied by
    the _pid hash), the per-value tie window, and the cumulative
    window. The rank-attach join is gone entirely: with a RANGE frame
    ordered by value, ``sum(cnt)`` includes the current value's PEER
    rows (every type of that value), so cum_tie reads directly off the
    (value, type) grid and the doubled midrank 2·cum − tie + 1 stays
    BIGINT on the same frame. Per-group rank sums are then one bounded
    reduce; the only doubles are the one-row closed form (R²/n terms
    6dp-snapped and DECIMAL-summed so the k-term reduction is
    order-free).
    """
    e = load_table(spark, sf_dir, "events")
    _KNP = 32
    vproxy = F.col("value").cast("double")
    vbnds = e.agg(
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.coalesce(
                        F.percentile_approx(
                            vproxy,
                            F.array(
                                *[F.lit(i / _KNP) for i in range(1, _KNP)]
                            ),
                            F.lit(10_000),
                        ),
                        F.array(),
                    ),
                    lambda b: b.isNotNull(),
                )
            )
        ).alias("_bnds")
    )
    vbucket = F.when(
        F.size("_bnds") > 0,
        F.aggregate(
            "_bnds",
            F.lit(0),
            lambda acc, b: acc + F.when(vproxy > b, 1).otherwise(0),
        ),
    ).otherwise(bounded_part(vproxy))
    vper = (
        e.crossJoin(F.broadcast(vbnds))
        .groupBy(vbucket.alias("_pid"))
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
    )
    voffs = (
        vper.alias("a")
        .join(
            F.broadcast(vper.alias("b")),
            F.col("b._pid") < F.col("a._pid"),
            "left",
        )
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._t"), F.lit(0)).alias("_o"))
    )
    per_vt = (
        e.select("value", "event_type")
        .crossJoin(F.broadcast(vbnds))
        .withColumn("_pid", vbucket)
        .repartition(F.col("_pid"))
        .groupBy("_pid", "value", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .join(F.broadcast(voffs), "_pid")
    )
    w_tie = W.partitionBy("_pid", "value")
    # RANGE frame: peers (all types of the current value) are inside
    # the frame, so this IS the tie-group-end cumulative count.
    w_cum = (
        W.partitionBy("_pid")
        .orderBy("value")
        .rangeBetween(W.unboundedPreceding, 0)
    )
    vt = per_vt.select(
        "event_type",
        "cnt",
        F.sum("cnt").over(w_tie).cast("long").alias("tie"),
        (F.sum("cnt").over(w_cum) + F.col("_o")).cast("long").alias("cum_tie"),
    )
    # No checkpoint: vt can be near-data-sized (value is continuous),
    # and its two consumers share the repartition exchange via AQE
    # reuse — only the bounded-partition windows re-run.
    rx2 = 2 * F.col("cum_tie") - F.col("tie") + 1
    per_g = vt.groupBy("event_type").agg(
        F.sum(F.col("cnt") * rx2).cast("long").alias("r2"),
        F.sum("cnt").cast("long").alias("n_i"),
    )
    # Σ(t³−t) over DISTINCT values: each value contributes once — its
    # tie count rides every (value, type) row, so weight the term by
    # cnt/tie (exact integers: tie divides t³−t's per-row share only
    # through the final sum — use sum(cnt·(t²−1)) = Σ_v t·(t²−1) since
    # Σ_type cnt = tie per value).
    ties = F.broadcast(
        vt.agg(
            F.sum(
                F.col("cnt") * (F.col("tie") * F.col("tie") - 1)
            )
            .cast("long")
            .alias("tsum"),
            F.sum("cnt").cast("long").alias("n"),
        )
    )
    half = F.col("r2").cast("double") / 2
    s = per_g.agg(
        F.sum(
            F.round(half * half / F.col("n_i").cast("double"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("sumsq"),
        F.count(F.lit(1)).cast("int").alias("k"),
    )
    nd = F.col("n").cast("double")
    h = F.round(12.0 / (nd * (nd + 1.0)) * F.col("sumsq") - 3.0 * (nd + 1.0), 6)
    # degenerate-input guards (the ANSI division contract: this Spark 4
    # session raises DIVIDE_BY_ZERO even for double/double): n = 1 has
    # no tie-correction denominator; an all-tied sample drives the
    # correction itself to 0 — both yield NULL, mirrored in the oracle.
    corr = F.when(
        F.col("n") > 1,
        F.round(
            1.0
            - F.col("tsum").cast("double")
            / (F.col("n") * F.col("n") * F.col("n") - F.col("n")).cast("double"),
            9,
        ),
    )
    return s.crossJoin(ties).select(
        "n",
        "k",
        h.alias("h"),
        corr.alias("tie_correction"),
        F.when(corr != 0.0, F.round(h / corr, 6)).alias("h_corrected"),
    )


@query(
    "q_agg_moods_median",
    # The grand median comes off the same distinct-value spine as
    # q_agg_kruskal's ranks (2·cum ≥ N+1 stays integer for both
    # parities); the k×2 chi-square accumulates 9dp-snapped DECIMAL
    # terms so the bounded-cell reduction is order-free.
    oracle="""
WITH per_v AS (
  SELECT value, CAST(count(*) AS BIGINT) AS tie FROM events GROUP BY 1
),
cum AS (
  SELECT value, tie,
         CAST(SUM(tie) OVER (ORDER BY value) AS BIGINT) AS cum_tie
  FROM per_v
),
tot AS (SELECT CAST(sum(tie) AS BIGINT) AS n FROM per_v),
med AS (
  SELECT min(value) AS med FROM cum, tot WHERE 2 * cum_tie >= n + 1
),
per_g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN value > (SELECT med FROM med)
                       THEN 1 ELSE 0 END) AS BIGINT) AS o_above,
         CAST(count(*) AS BIGINT) AS n_i
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(sum(o_above) AS BIGINT) AS m_above,
         CAST(sum(n_i) AS BIGINT) AS n,
         CAST(count(*) AS INTEGER) AS k
  FROM per_g
),
chi AS (
  SELECT CAST(sum(CAST(CASE WHEN m_above > 0 AND m_above < n THEN round(
           (o_above - CAST(n_i AS DOUBLE) * m_above / n)
           * (o_above - CAST(n_i AS DOUBLE) * m_above / n)
           / (CAST(n_i AS DOUBLE) * m_above / n)
           + ((n_i - o_above) - CAST(n_i AS DOUBLE) * (n - m_above) / n)
             * ((n_i - o_above) - CAST(n_i AS DOUBLE) * (n - m_above) / n)
             / (CAST(n_i AS DOUBLE) * (n - m_above) / n), 9) END
         AS DECIMAL(38,9))) AS DOUBLE) AS chi2
  FROM per_g, m
)
SELECT m.n, m.k, med.med AS median, m.m_above,
       round(chi.chi2, 6) AS chi2,
       CAST(m.k - 1 AS INTEGER) AS df
FROM m, med, chi
""",
)
def q_agg_moods_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across ALL event types: does each group land
    above/below the GRAND median at the rate it should — the coarsest,
    most outlier-proof of the k-group location tests (it only looks at
    which side of one cut each value falls; KW uses full ranks, ANOVA
    full values — the three-step robustness ladder, and this rung
    survives even ordinal-censored data).

    Scale shape (r13): the grand median is exact, selected by the
    shared approx-bracket + exact local-refine device
    (``_util.exact_pct_values``) at the PARITY-EXACT integer rank
    ``n DIV 2 + 1`` = ceil((n+1)/2) — the ``rank_exprs`` extension
    retired this query's former distinct-value ``dist_cumsum`` spine
    (a data-sized shuffle + checkpoint just to read one crossing; the
    stated blocker was the device's percent-only interface, and the
    n-parity rank is computable in-plan from n). The rank pick
    ``min(v | cum ≥ n DIV 2 + 1)`` is identical to the oracle's
    ``min(v | 2·cum ≥ n+1)``: both sides are integers, and
    2·cum ≥ n+1 ⟺ cum ≥ (n+1)/2 ⟺ cum ≥ floor(n/2)+1 for either
    parity. The median broadcasts as one row; the k×2 contingency is
    a single conditional map-combinable reduce, and the chi-square is
    a bounded-cell closed form (9dp-snapped DECIMAL terms,
    order-free). Oracle unchanged (it keeps the spine CTE).
    """
    e = load_table(spark, sf_dir, "events")
    med = F.broadcast(
        exact_pct_values(
            e,
            [("med", F.col("value"), 50)],
            rank_exprs={"med": "n DIV 2 + 1"},
        ).select(F.col("med"))
    )
    per_g = (
        e.crossJoin(med)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") > F.col("med"), 1).otherwise(0))
            .cast("long")
            .alias("o_above"),
            F.count(F.lit(1)).cast("long").alias("n_i"),
        )
    )
    m = F.broadcast(
        per_g.agg(
            F.sum("o_above").cast("long").alias("m_above"),
            F.sum("n_i").cast("long").alias("n"),
            F.count(F.lit(1)).cast("int").alias("k"),
        )
    )
    nd = F.col("n").cast("double")
    e_above = F.col("n_i").cast("double") * F.col("m_above") / nd
    e_below = F.col("n_i").cast("double") * (F.col("n") - F.col("m_above")) / nd
    o_a = F.col("o_above")
    o_b = F.col("n_i") - F.col("o_above")
    # a one-sided sample (every value on one side of the median) has a
    # zero expected cell — its chi-square is undefined; NULL, mirrored.
    term = F.when(
        (F.col("m_above") > 0) & (F.col("m_above") < F.col("n")),
        F.round(
            (o_a - e_above) * (o_a - e_above) / e_above
            + (o_b - e_below) * (o_b - e_below) / e_below,
            9,
        ),
    ).cast("decimal(38,9)")
    chi = per_g.crossJoin(m).agg(F.sum(term).cast("double").alias("chi2"))
    return (
        m.crossJoin(med)
        .crossJoin(F.broadcast(chi))
        .select(
            "n",
            "k",
            F.col("med").alias("median"),
            "m_above",
            F.round(F.col("chi2"), 6).alias("chi2"),
            (F.col("k") - 1).cast("int").alias("df"),
        )
    )


@query(
    "q_agg_bartlett",
    # Per-group variances from exact DECIMAL power sums (2dp values →
    # 4dp squares, exact at 6dp); ln() rides the unigram-PPL contract
    # (round 9dp), every bounded-group reduction sums 12dp-snapped
    # DECIMAL terms so group order can never move a bit.
    oracle="""
WITH per_g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS s2
  FROM events GROUP BY 1
  HAVING count(*) >= 2
),
v AS (
  SELECT n_i,
         (s2 - s1 * s1 / n_i) / (n_i - 1) AS var_i
  FROM per_g
),
s AS (
  SELECT CAST(sum(n_i) AS BIGINT) AS n,
         CAST(count(*) AS INTEGER) AS k,
         CAST(sum(CAST(round((n_i - 1) * var_i, 12) AS DECIMAL(38,12)))
              AS DOUBLE) AS ssw,
         CAST(sum(CAST(round((n_i - 1) * round(ln(var_i), 9), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS sln,
         CAST(sum(CAST(round(1.0 / (n_i - 1), 12) AS DECIMAL(38,12)))
              AS DOUBLE) AS cinv
  FROM v
)
SELECT n, k,
       CASE WHEN n > k THEN round(ssw / (n - k), 6) END AS pooled_var,
       CASE WHEN n > k AND k > 1 THEN
         round(((n - k) * round(ln(ssw / (n - k)), 9) - sln)
               / (1.0 + (cinv - 1.0 / (n - k)) / (3.0 * (k - 1))), 6)
       END AS t_stat,
       CAST(k - 1 AS INTEGER) AS df
FROM s
""",
)
def q_agg_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for equal variances across ALL event types —
    the homoscedasticity gate in front of q_agg_anova (ANOVA assumes
    it; q_agg_welch is the escape hatch when this fires) and the
    normal-theory sharp twin of q_agg_levene (Levene survives
    non-normality; Bartlett is more powerful when normality holds —
    run both, and their disagreement is a tail-weight finding).

    Scale shape: ONE map-combinable pass to per-group exact DECIMAL
    power sums (bounded group grid); everything after is a bounded
    closed form — per-group ln() snapped to the house 9dp contract,
    all three k-term reductions as 12dp DECIMAL sums (order-free),
    one row out.
    """
    e = load_table(spark, sf_dir, "events")
    per_g = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("s1"),
            F.sum((F.col("value") * F.col("value")).cast(DEC))
            .cast("double")
            .alias("s2"),
        )
        # a 1-observation group has no variance — Bartlett is defined
        # over groups with n_i >= 2 (mirrored HAVING in the oracle)
        .filter(F.col("n_i") >= 2)
    )
    n_i = F.col("n_i")
    var_i = (F.col("s2") - F.col("s1") * F.col("s1") / n_i) / (n_i - 1)
    s = per_g.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.count(F.lit(1)).cast("int").alias("k"),
        F.sum(F.round((n_i - 1) * var_i, 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("ssw"),
        F.sum(
            F.round((n_i - 1) * F.round(F.log(var_i), 9), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("sln"),
        F.sum(F.round(1.0 / (n_i - 1), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("cinv"),
    )
    n, k = F.col("n"), F.col("k")
    sp2 = F.col("ssw") / (n - k)
    t = ((n - k) * F.round(F.log(sp2), 9) - F.col("sln")) / (
        1.0 + (F.col("cinv") - 1.0 / (n - k)) / (3.0 * (k - 1))
    )
    # k = 1 (nothing to compare) and n = k (all singleton groups are
    # already filtered, but guard the division anyway) yield NULL.
    return s.select(
        "n",
        "k",
        F.when(n > k, F.round(sp2, 6)).alias("pooled_var"),
        F.when((n > k) & (k > 1), F.round(t, 6)).alias("t_stat"),
        (k - 1).cast("int").alias("df"),
    )


@query(
    "q_agg_friedman",
    # Ranks live inside day-bounded windows (k rows each); doubled
    # midranks keep every accumulation BIGINT, and the tie-corrected
    # statistic is a ratio of two exact integers — the ONLY float in
    # the whole query is the final division.
    oracle="""
WITH td AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (
  SELECT d.day, t.event_type, COALESCE(td.total, 0.0) AS total
  FROM days d CROSS JOIN types t
  LEFT JOIN td ON td.day = d.day AND td.event_type = t.event_type
),
rk AS (
  SELECT event_type,
         2 * rank() OVER (PARTITION BY day ORDER BY total)
           + count(*) OVER (PARTITION BY day, total) - 1 AS r2
  FROM grid
),
per_t AS (
  SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2j,
         CAST(sum(r2 * r2) AS BIGINT) AS r2sq
  FROM rk GROUP BY 1
),
dims AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS b,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(r2sq) AS BIGINT) AS a4
  FROM per_t
),
num AS (
  SELECT CAST(sum((r2j - b * (k + 1)) * (r2j - b * (k + 1))) AS BIGINT)
           AS num
  FROM per_t, dims
)
SELECT b, CAST(k AS INTEGER) AS k,
       CASE WHEN a4 - b * k * (k + 1) * (k + 1) <> 0 THEN
         round(CAST((k - 1) * num AS DOUBLE)
               / CAST(a4 - b * k * (k + 1) * (k + 1) AS DOUBLE), 6)
       END AS q_stat,
       CAST(k - 1 AS INTEGER) AS df
FROM dims, num
""",
)
def q_agg_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test on the (day × event-type) panel of daily value
    totals: do the event types keep the same RANK ORDER day after day
    — the repeated-measures cousin of q_agg_kruskal (KW pools all
    values into one ranking; Friedman re-ranks within every day, so
    day-level level shifts — weekends, incidents — cancel instead of
    confounding). Tie-corrected via the Σr² denominator form, which
    the 0-filled balanced grid makes necessary (missing day×type
    cells tie at 0).

    Scale shape: the raw pass collapses to the bounded day×type grid
    once (map-combinable exact-DECIMAL sums); ranks are windows
    PARTITIONED BY day (k rows per partition — never data-sized);
    doubled midranks keep rank sums and the Σr² term exact BIGINTs;
    the tie-corrected statistic is integer/integer with ONE final
    IEEE division.
    """
    e = load_table(spark, sf_dir, "events")
    td = e.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(dsum("value", "total"))
    days = e.select(F.col("ts").cast("date").alias("day")).distinct()
    types = e.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(td, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("total", F.lit(0.0)).alias("total"))
    )
    r2 = (
        2 * F.rank().over(W.partitionBy("day").orderBy("total"))
        + F.count(F.lit(1)).over(W.partitionBy("day", "total"))
        - 1
    )
    per_t = (
        grid.select("event_type", r2.alias("r2"))
        .groupBy("event_type")
        .agg(
            F.sum("r2").cast("long").alias("r2j"),
            F.sum(F.col("r2") * F.col("r2")).cast("long").alias("r2sq"),
        )
    )
    b = F.broadcast(days.agg(F.count(F.lit(1)).cast("long").alias("b")))
    dims = F.broadcast(
        per_t.crossJoin(b).agg(
            F.first("b").alias("b"),
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("r2sq").cast("long").alias("a4"),
        )
    )
    num = per_t.crossJoin(dims).agg(
        F.sum(
            (F.col("r2j") - F.col("b") * (F.col("k") + 1))
            * (F.col("r2j") - F.col("b") * (F.col("k") + 1))
        )
        .cast("long")
        .alias("num")
    )
    bb, kk = F.col("b"), F.col("k")
    den = F.col("a4") - bb * kk * (kk + 1) * (kk + 1)
    return (
        dims.crossJoin(F.broadcast(num))
        .select(
            "b",
            kk.cast("int").alias("k"),
            # every cell tied in every block (k = 1, or constant panel)
            # zeroes the tie-corrected denominator: undefined -> NULL
            F.when(
                den != 0,
                F.round(
                    ((kk - 1) * F.col("num")).cast("double")
                    / den.cast("double"),
                    6,
                ),
            ).alias("q_stat"),
            (kk - 1).cast("int").alias("df"),
        )
    )
