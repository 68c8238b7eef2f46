"""Window-function operators (SURVEY.md §2B B27-B31).

A window spec = ONE shuffle on partitionBy keys + per-partition sort.
Determinism doctrine: any function whose result depends on row order
within peers (``row_number``, ``ntile``, ``lag``/``lead``, frame sums)
gets a *total* order — the natural key extended with a unique tiebreaker —
so Spark and the oracle agree bit-for-bit. Rank/dense_rank/percent_rank
are tie-stable by definition and may order by the natural key alone.

Frame sums use the exact-decimal pattern: DuckDB evaluates window
aggregates with segment trees (different addend association than Spark's
running re-scan), so double sums would drift in the low bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

from ._util import bounded_part, dist_cumsum, exact_window_ok, spark_ntile

DEC = "decimal(28,6)"


@query(
    "q_win_rank", scan_repair=False,
    oracle="""
SELECT
  l_suppkey, l_orderkey, l_linenumber, l_quantity,
  row_number() OVER (PARTITION BY l_suppkey
                     ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS rn,
  rank()       OVER (PARTITION BY l_suppkey ORDER BY l_quantity DESC) AS rnk,
  dense_rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity DESC) AS drnk
FROM lineitem
""",
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per supplier (B27)."""
    li = load_table(spark, sf_dir, "lineitem")
    w_unique = W.partitionBy("l_suppkey").orderBy(
        F.col("l_quantity").desc(), "l_orderkey", "l_linenumber"
    )
    w_ties = W.partitionBy("l_suppkey").orderBy(F.col("l_quantity").desc())
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.row_number().over(w_unique).alias("rn"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
    )


@query(
    "q_win_lag",
    oracle="""
SELECT
  event_id, user_id, value,
  lag(value)  OVER w AS prev_value,
  lead(value) OVER w AS next_value,
  CAST(epoch(date_trunc('second', ts))
       - lag(epoch(date_trunc('second', ts))) OVER w AS BIGINT) AS gap_seconds
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY date_trunc('second', ts), event_id)
""",
)
def q_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics per user over event time (B28)."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "t", F.date_trunc("second", "ts")
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    epoch = F.col("t").cast("long")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (epoch - F.lag(epoch).over(w)).alias("gap_seconds"),
    )


@query(
    "q_win_frame",
    oracle=f"""
SELECT
  event_id, user_id, value,
  CAST(SUM(CAST(value AS DECIMAL(28,6)))
       OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
  CAST(SUM(CAST(value AS DECIMAL(28,6)))
       OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    / COUNT(value)
       OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_avg
FROM events
""",
)
def q_win_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving sum (3-row frame) + running average (B29)."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "t", F.date_trunc("second", "ts")
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    frame3 = w.rowsBetween(-2, W.currentRow)
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    dec_val = F.col("value").cast(DEC)
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.sum(dec_val).over(frame3).cast("double").alias("moving_sum"),
        (
            F.sum(dec_val).over(cum).cast("double")
            / F.count("value").over(cum)
        ).alias("running_avg"),
    )


@query(
    "q_win_dist",
    oracle="""
SELECT
  c_custkey, c_mktsegment, c_acctbal,
  ntile(4)       OVER w AS quartile,
  percent_rank() OVER w AS pct_rank,
  cume_dist()    OVER w AS cdist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
)
def q_win_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist per market segment (B30).

    Unique ordering (acctbal, custkey) — ntile is order-sensitive under
    ties. percent_rank = (rank-1)/(n-1): one IEEE division, exact both
    engines.
    """
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@query(
    "q_topk_group",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def q_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority class (B31).

    The canonical scalable top-k-per-group: rank within partition, filter.
    Spark pushes a per-partition top-k (WindowGroupLimit since 3.5) below
    the shuffle, so each map task emits at most k rows per group.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "q_win_firstlast",
    oracle="""
SELECT
  event_id, user_id, value,
  first_value(value) OVER w AS first_val,
  last_value(value)  OVER w AS last_val,
  nth_value(value, 2) OVER w AS second_val
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY date_trunc('second', ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def q_win_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value/nth_value analytics (B28 family).

    The full-partition frame is spelled explicitly: the SQL-default
    frame for last_value is RANGE … CURRENT ROW, which silently returns
    the current row's value — the classic window-function footgun both
    engines share. Deterministic ordering via the (time, event_id)
    tie-break used across the window family.
    """
    e = load_table(spark, sf_dir, "events").withColumn(
        "t", F.date_trunc("second", "ts")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


@query(
    "q_win_range_time",
    oracle=f"""
SELECT
  event_id, user_id, value,
  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
  COUNT(*) OVER w AS n_1h,
  CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
    / COUNT(value) OVER w AS avg_1h
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)
def q_win_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: trailing 1-hour count and mean per user
    (B29b) — the moving-window-by-TIME aggregate (ROWS frames count
    rows; telemetry wants wall-clock windows, and rows-per-hour varies).

    `rangeBetween` on epoch seconds gives the value-based frame; RANGE
    includes peer rows (equal timestamps share a frame), so no
    tiebreaker is needed for determinism — and the frame sum is
    decimal-armored because DuckDB evaluates window aggregates with
    segment trees (different addend association than Spark's running
    scan). One shuffle on user_id, same as every window op.
    """
    e = load_table(spark, sf_dir, "events").withColumn(
        "epoch_s", F.date_trunc("second", "ts").cast("long")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, W.currentRow)
    )
    dec_val = F.col("value").cast(DEC)
    return e.select(
        "event_id",
        "user_id",
        "value",
        "epoch_s",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        (
            F.sum(dec_val).over(w).cast("double")
            / F.count("value").over(w)
        ).alias("avg_1h"),
    )


@query(
    "q_feature_rank",
    oracle="""
SELECT event_id, event_type, value,
       round(percent_rank() OVER (
         PARTITION BY event_type ORDER BY value, event_id), 6) AS pr,
       round(cume_dist() OVER (
         PARTITION BY event_type ORDER BY value, event_id), 6) AS cd
FROM events
ORDER BY event_id
""",
)
def q_feature_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based feature normalization (windows family → feature
    engineering): per-series percent-rank and CDF position of each
    value — the outlier-robust scaling (quantile transform) feature
    pipelines apply before training, where min-max scaling is skew-
    fragile.

    One window per series (shuffle on event_type, sort on value);
    event_id breaks ties so both engines assign identical ranks to
    duplicate values. Rank output is a pure row position ratio —
    integer arithmetic until the final division, so 6dp rounding is
    bit-stable cross-engine. At extreme series cardinality the
    percentile-bounds variant (q_winsorize's broadcast shape) replaces
    the full sort.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    ).orderBy("event_id")


@query(
    "q_rfm",
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, last_order, frequency, monetary,
         ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM rfm
)
SELECT o_custkey, frequency, round(monetary, 2) AS monetary,
       r_score, f_score, m_score,
       CASE
         WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
         WHEN r_score <= 2 THEN 'recent'
         WHEN f_score <= 2 THEN 'loyal'
         WHEN r_score >= 4 AND f_score >= 4 THEN 'at_risk'
         ELSE 'regular'
       END AS segment
FROM scored ORDER BY o_custkey
""",
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (windows family → workload flagship):
    recency/frequency/monetary quintiles per customer + segment label —
    the marketing-analytics standard, and the canonical
    aggregate-then-rank-then-bucket composition.

    Per-customer aggregates reduce the fact table first (map-side
    combinable, |customers| rows out). Below the ``exact_window_ok``
    row-count gate the three ntile windows sort that aggregated frame
    on one partition (O(customers), fine for dimension-sized customer
    counts). ABOVE the gate — a 100 TB table has ~10⁹ customers and
    that sort is a cliff — the DEFAULT path swaps to the distributed
    exact form: per-metric row-number spines via ``dist_cumsum``
    (equi-depth literal buckets + triangular broadcast offsets, no
    data-sized single partition) fed to the closed-form
    ``spark_ntile``. BOTH paths produce bit-identical quintiles (same
    (metric DESC, o_custkey) total order, same SQL-standard tile
    split), so the gate changes plan shape only — asserted by
    tests/test_round8_ops.py. q_rfm_approx remains the cheaper
    percentile-BOUNDS variant for users who accept tie-straddle drift.
    """
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("monetary"),
    )
    if exact_window_ok(o):
        one = W.partitionBy(bounded_part(F.col("frequency")))
        wr = one.orderBy(F.col("last_order").desc(), "o_custkey")
        wf = one.orderBy(F.col("frequency").desc(), "o_custkey")
        wm = one.orderBy(F.col("monetary").desc(), "o_custkey")
        scored = rfm.select(
            "o_custkey",
            "frequency",
            F.round("monetary", 2).alias("monetary"),
            F.ntile(5).over(wr).alias("r_score"),
            F.ntile(5).over(wf).alias("f_score"),
            F.ntile(5).over(wm).alias("m_score"),
        )
    else:
        # rec_day is the monotone numeric image of last_order, so the
        # (rec_day DESC, o_custkey) spine is the same total order the
        # exact window uses.
        base = rfm.withColumn(
            "rec_day", F.datediff("last_order", F.lit("1970-01-01"))
        ).withColumn("one", F.lit(1))
        n = F.broadcast(base.agg(F.count(F.lit(1)).alias("_n")))
        d = base
        for metric, score in (
            ("rec_day", "r_score"),
            ("frequency", "f_score"),
            ("monetary", "m_score"),
        ):
            d = (
                dist_cumsum(
                    d, metric, ["one"],
                    tiebreak=["o_custkey"], descending=True,
                )
                .withColumnRenamed("cum_one", f"_rk_{score}")
                # truncate lineage: each dist_cumsum level evaluates its
                # input twice (boundary agg + main path)
                .localCheckpoint(eager=False)
            )
        d = d.crossJoin(n)
        scored = d.select(
            "o_custkey",
            "frequency",
            F.round("monetary", 2).alias("monetary"),
            *[
                spark_ntile(F.col(f"_rk_{s}"), F.col("_n"), 5).alias(s)
                for s in ("r_score", "f_score", "m_score")
            ],
        )
    r, f_, m = F.col("r_score"), F.col("f_score"), F.col("m_score")
    return scored.select(
        "*",
        F.when((r <= 2) & (f_ <= 2), "champion")
        .when(r <= 2, "recent")
        .when(f_ <= 2, "loyal")
        .when((r >= 4) & (f_ >= 4), "at_risk")
        .otherwise("regular")
        .alias("segment"),
    ).orderBy("o_custkey")


@query(
    "q_rfm_approx",
    # q_agg_hll contract: the oracle recomputes the EXACT frame
    # (customer count + exact-ntile champion count) and hardcodes the
    # agreement booleans; approx scores never cross engines raw.
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey,
         ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score
  FROM rfm
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN r_score <= 2 AND f_score <= 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_champion_exact,
       true AS r_agree_ok, true AS f_mae_ok, true AS m_agree_ok
FROM scored
""",
)
def q_rfm_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bounds RFM — the dimension-frame escape hatch
    q_rfm's docstring names, as tested code. q_rfm's three ntile
    windows sort the |customers| frame on ONE partition (sound while
    customers are dimension-sized; not at true 100 TB customer
    counts). The scale form: quintile BOUNDARIES from one
    `percentile_approx` aggregate (t-digest partials, map-side
    combinable), broadcast as a 4-element array, and each customer
    scored MAP-ONLY by counting boundaries its value clears — no
    |customers| sort anywhere, the q_winsorize shape applied to
    ntile.

    Semantics difference, stated: exact ntile makes EQUAL-COUNT
    buckets, splitting value-tie runs by the o_custkey tiebreak;
    boundary assignment is a function of the VALUE, so a tie-run
    lands in one bucket. On near-unique monetary they agree ~100%;
    on day-granular recency ~99%; on small-integer frequency the
    per-customer agreement is ~76% with mean |score error| ~0.24 —
    entirely tie-run straddle, which is why frequency's verdict is a
    mean-absolute-error band (≤ 0.5) rather than an agreement rate.
    The in-query join against the exact op is test-scale
    verification (the q_agg_hll contract); the production plan is
    the approx path alone.
    """
    o = load_table(spark, sf_dir, "orders")
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .withColumn(
            "rec_day", F.datediff("last_order", F.lit("1970-01-01"))
        )
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    b = rfm.agg(
        F.percentile_approx(
            "rec_day", F.array(*[F.lit(q) for q in qs]), F.lit(10000)
        ).alias("rb"),
        F.percentile_approx(
            "frequency", F.array(*[F.lit(q) for q in qs]), F.lit(10000)
        ).alias("fb"),
        F.percentile_approx(
            "monetary", F.array(*[F.lit(q) for q in qs]), F.lit(10000)
        ).alias("mb"),
    )

    def desc_score(val: Column, bounds: str) -> Column:
        # ntile orders DESC: score 1 = top quintile = value above the
        # 80th-pct boundary; score = 1 + #{ascending boundaries >= v}.
        return 1 + F.size(F.filter(F.col(bounds), lambda x: val <= x))

    appr = rfm.crossJoin(F.broadcast(b)).select(
        "o_custkey",
        desc_score(F.col("rec_day").cast("double"), "rb").alias("ra"),
        desc_score(F.col("frequency").cast("double"), "fb").alias("fa"),
        desc_score(F.col("monetary"), "mb").alias("ma"),
    )
    ex = q_rfm(spark, sf_dir).select(
        "o_custkey", "r_score", "f_score", "m_score"
    )
    return ex.join(appr, "o_custkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(
            ((F.col("r_score") <= 2) & (F.col("f_score") <= 2)).cast("long")
        ).alias("n_champion_exact"),
        (
            F.avg((F.col("ra") == F.col("r_score")).cast("double")) >= 0.9
        ).alias("r_agree_ok"),
        (F.avg(F.abs(F.col("fa") - F.col("f_score"))) <= 0.5).alias(
            "f_mae_ok"
        ),
        (
            F.avg((F.col("ma") == F.col("m_score")).cast("double")) >= 0.9
        ).alias("m_agree_ok"),
    )


@query(
    "q_win_streak",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
grp AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, count(*) AS len FROM grp GROUP BY 1, 2
)
SELECT user_id,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       count(*) AS n_streaks
FROM streaks GROUP BY user_id
ORDER BY user_id
""",
)
def q_win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (B27 family) —
    the engagement metric behind retention products ("7-day streak"),
    and the date-granular cousin of sessionization: q_sessionize
    islands on a TIME GAP, this islands on CALENDAR CONTINUITY (the
    date − row_number() constant-offset trick, the canonical
    gaps-and-islands form).

    Shape: distinct (user, day) first — the raw stream reduces to at
    most users × days rows before any window — then one window on the
    same user partitioning and two tiny aggregations. All integers;
    both engines produce identical islands because the ordering key
    (the date) is unique per user after the distinct.
    """
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("d"))
    grp = days.select(
        "user_id", "d", F.date_sub("d", rn).alias("island")
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.sum("len").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .orderBy("user_id")
    )


@query(
    "q_win_pareto",
    # Exact decimal running sums: the cumulative revenue is a DECIMAL
    # window sum (order-free, associative), the 80% threshold is exact
    # decimal arithmetic (total * 0.8 at scale 7), so the boundary rank
    # cannot flip between engines.
    oracle="""
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey
           ROWS UNBOUNDED PRECEDING) AS cum,
         sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
           PARTITION BY o_orderpriority) AS tot,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       CAST(max(n) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN 5 * (cum - CAST(o_totalprice AS DECIMAL(28,6)))
                          < 4 * tot THEN 1 ELSE 0 END) AS BIGINT)
         AS n_to_80pct,
       round(CAST(sum(CASE WHEN 5 * (cum - CAST(o_totalprice AS DECIMAL(28,6)))
                                < 4 * tot THEN 1 ELSE 0 END) AS DOUBLE)
             / max(n), 6) AS frac_to_80pct
FROM r
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_win_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / cumulative-share analysis per priority class: how many
    (and what fraction of) orders, taken largest-first, cover 80% of
    the class's revenue — the ACTIONABLE concentration number
    (q_agg_gini scores inequality; this says "stock these N SKUs",
    "these N customers get the account manager").

    A row counts toward the 80% set if the running total BEFORE it is
    still under the threshold (the standard "first crossing included"
    rule). Running sums are exact DECIMAL on the same per-class sort
    the gini rank uses, and the threshold is exact decimal, so the
    crossing row is engine-identical — no float cumsum drift at the
    boundary. The per-priority window partitions RAW orders into only
    |priorities|=5 data-sized sort partitions — fine below the
    ``exact_window_ok`` gate; above it the DEFAULT runs the running
    sum through ``dist_cumsum(part_cols=[o_orderpriority])``
    (equi-depth value buckets × priority, bit-identical cumulative
    values, largest partition ~|orders|/(5·nparts)).
    """
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(28,6)")
    per_cls = F.broadcast(
        o.groupBy("o_orderpriority").agg(
            F.sum(dec).alias("tot"), F.count(F.lit(1)).alias("n")
        )
    )
    if exact_window_ok(o):
        wsort = W.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").desc(), "o_orderkey"
        )
        r = o.select(
            "o_orderpriority",
            dec.alias("price_dec"),
            F.sum(dec)
            .over(wsort.rowsBetween(W.unboundedPreceding, 0))
            .alias("cum"),
        ).join(per_cls, "o_orderpriority")
    else:
        r = (
            dist_cumsum(
                o.select(
                    "o_orderpriority", "o_orderkey", "o_totalprice",
                    dec.alias("price_dec"),
                ),
                "o_totalprice",
                ["price_dec"],
                part_cols=["o_orderpriority"],
                tiebreak=["o_orderkey"],
                descending=True,
            )
            .select(
                "o_orderpriority", "price_dec",
                F.col("cum_price_dec").alias("cum"),
            )
            .join(per_cls, "o_orderpriority")
        )
    # Cross-multiplied 80% threshold: 5*(cum - price) < 4*tot keeps the
    # comparison in exact DECIMAL on both engines. `tot * 0.8` would make
    # Spark coerce to double while the oracle compares in DECIMAL — an
    # exact-tie boundary row could then classify differently.
    in80 = F.when(
        (F.col("cum") - F.col("price_dec")) * 5 < F.col("tot") * 4, 1
    ).otherwise(0)
    return (
        r.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            F.sum(in80).alias("n_to_80pct"),
            F.round(
                F.sum(in80).cast("double") / F.max("n"), 6
            ).alias("frac_to_80pct"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_win_rolling_median",
    # percentile (Spark) and quantile_cont (DuckDB) share the same
    # type-7 linear-interpolation definition — the q_agg_quantile
    # pairing, here over a trailing ROWS frame. Median of a 2dp-value
    # window interpolates between two observed values; 6dp rounding
    # absorbs the last-ulp of the shared formula.
    oracle="""
SELECT event_type, event_id, ts, value,
       round(quantile_cont(value, 0.5) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS rolling_median,
       round(value - quantile_cont(value, 0.5) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS residual
FROM events
""",
)
def q_win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median (trailing-10 ROWS frame) per event-type stream,
    plus the residual against it — the robust sibling of q_ts_ewma's
    mean-based smoothing: one spike perturbs an EWMA for 8 rows but
    never moves the median, so median residuals are the
    spike-detection signal of choice for bursty streams (q_anomaly_mad
    is the GLOBAL robust detector; this is its local/windowed form).

    One ordered window on the (event_type, ts, event_id) total order —
    the same single-shuffle discipline as every window op here; the
    trailing frame is bounded (10 rows) so per-row state is O(frame),
    and a GROWING frame's O(span²) re-evaluation trap (SCALING.md) is
    structurally avoided. percentile-over-frame sorts 10 elements per
    row — constant work, any scale.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    med = F.expr("percentile(value, 0.5)").over(w)
    return e.select(
        "event_type",
        "event_id",
        "ts",
        "value",
        F.round(med, 6).alias("rolling_median"),
        F.round(F.col("value") - med, 6).alias("residual"),
    )


@query(
    "q_win_momentum",
    # Weekly totals are exact integers on an epoch-week index; WoW
    # change and the 4-week average are one IEEE division each over
    # the aggregated |weeks × types| frame, rounded 6dp.
    oracle="""
WITH wk AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week_idx,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, week_idx, n,
         lag(n) OVER w AS prev_n,
         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY week_idx
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum4,
         CAST(count(*) OVER (PARTITION BY event_type ORDER BY week_idx
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt4
  FROM wk
  WINDOW w AS (PARTITION BY event_type ORDER BY week_idx)
)
SELECT event_type, week_idx, n,
       CASE WHEN prev_n IS NOT NULL AND prev_n > 0
            THEN round((n - prev_n) * 1.0 / prev_n, 6) END AS wow_change,
       round(sum4 * 1.0 / cnt4, 6) AS ma4
FROM m ORDER BY event_type, week_idx
""",
)
def q_win_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly momentum report per event type: volume, week-over-week
    percentage change, and the 4-week moving average — the shape of
    essentially every business KPI chart, and the first derivative
    q_agg_trend's fitted slope summarizes away (trend says "growing
    overall"; momentum shows WHICH week turned).

    Weeks are epoch-week integers (floor(epoch/604800)) — calendar-
    convention-free, identical in both engines (ISO week-of-year
    splits at year boundaries differently across engines). One
    map-combinable pass to |weeks × types| integer counts; lag and
    the bounded moving-average frame both ride one (type, week)
    ordering over that aggregated frame — raw events shuffle once,
    everything windowed is dashboard-sized.
    """
    e = load_table(spark, sf_dir, "events")
    wk = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week_idx"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wo = W.partitionBy("event_type").orderBy("week_idx")
    fr4 = wo.rowsBetween(-3, 0)
    prev = F.lag("n").over(wo)
    return (
        wk.select(
            "event_type",
            "week_idx",
            "n",
            F.when(
                prev.isNotNull() & (prev > 0),
                F.round((F.col("n") - prev) * 1.0 / prev, 6),
            ).alias("wow_change"),
            F.round(
                F.sum("n").over(fr4) * 1.0 / F.count(F.lit(1)).over(fr4), 6
            ).alias("ma4"),
        )
        .orderBy("event_type", "week_idx")
    )


@query(
    "q_win_concurrency",
    # Sweep-line overlap counting: intervals -> (+1 at start, -1 at
    # end) points, running sum over ONE deterministic ordering per day
    # (ts, then starts before ends, then user), peak = max cum. Both
    # engines replay the identical ordering, so cum is exact.
    oracle="""
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         min(ts) AS t0, max(ts) AS t1
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT day, user_id, t0 AS ts, 1 AS delta FROM iv
  UNION ALL
  SELECT day, user_id, t1, -1 FROM iv
),
sweep AS (
  SELECT day, ts,
         sum(delta) OVER (
           PARTITION BY day
           ORDER BY ts, delta DESC, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pts
),
pk AS (
  SELECT day, max(cum) AS peak_concurrency FROM sweep GROUP BY day
)
SELECT CAST(p.day AS VARCHAR) AS day,
       CAST(p.peak_concurrency AS BIGINT) AS peak_concurrency,
       min(s.ts) AS peak_ts
FROM pk p JOIN sweep s ON s.day = p.day AND s.cum = p.peak_concurrency
GROUP BY p.day, p.peak_concurrency
ORDER BY p.day
""",
)
def q_win_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day (how many users were active AT ONCE,
    and when) by sweep-line: each user's daily activity span becomes a
    (+1 start, -1 end) point pair, a running sum over the day's point
    stream counts live intervals, and the daily max is the peak — the
    capacity-planning query (license seats, connection pools, surge
    staffing) that a groupBy can't answer because overlap is about
    instants, not rows.

    Scale shape: events aggregate-first to (user, day) spans — point
    volume is O(users·days), not O(events) — and the sweep's running
    sum partitions BY DAY, so each day's ordering sorts independently
    (the unpartitioned global sweep is the anti-pattern; a day's
    points fit one partition at any corpus size that has days). Ties
    break (ts, starts-before-ends, user) so touching intervals count
    as overlapping and cum replays identically in both engines; peak
    instant is the MIN ts achieving the max, join-back on the tiny
    per-day peak frame.
    """
    e = load_table(spark, sf_dir, "events")
    iv = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    pts = iv.select(
        "day", "user_id", F.col("t0").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(
            "day", "user_id", F.col("t1").alias("ts"), F.lit(-1).alias("delta")
        )
    )
    sweep = pts.select(
        "day",
        "ts",
        F.sum("delta")
        .over(
            W.partitionBy("day")
            .orderBy(F.col("ts"), F.col("delta").desc(), F.col("user_id"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("cum"),
    ).localCheckpoint(eager=False)  # feeds BOTH the peak agg and the
    # join-back: without materialization the re-referenced window
    # subtree re-sorts per branch (the SCALING.md re-reference pitfall)
    pk = (
        sweep.groupBy("day")
        .agg(F.max("cum").alias("peak_concurrency"))
        .alias("pk")
    )
    s = sweep.alias("s")
    return (
        pk.join(
            s,
            (F.col("pk.day") == F.col("s.day"))
            & (F.col("pk.peak_concurrency") == F.col("s.cum")),
        )
        .groupBy(F.col("pk.day").alias("day"), F.col("pk.peak_concurrency"))
        .agg(F.min(F.col("s.ts")).alias("peak_ts"))
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("peak_concurrency").cast("long").alias("peak_concurrency"),
            "peak_ts",
        )
        .orderBy("day")
    )


@query(
    "q_win_topn_change",
    # Weekly revenue in exact DECIMAL (rank ties impossible: partkey
    # tiebreak), epoch-week integers (calendar-convention-free), then
    # adjacent-week FULL OUTER join of two <=10-row-per-week frames.
    oracle="""
WITH wk AS (
  SELECT CAST(floor(epoch(l_shipdate) / 604800) AS BIGINT) AS week_idx,
         l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY 1, 2
),
r AS (
  SELECT week_idx, l_partkey,
         row_number() OVER (PARTITION BY week_idx
                            ORDER BY rev DESC, l_partkey) AS rn
  FROM wk
),
top AS (SELECT week_idx, l_partkey FROM r WHERE rn <= 10),
b AS (SELECT min(week_idx) AS w0, max(week_idx) AS w1 FROM top),
chg AS (
  SELECT COALESCE(cur.week_idx, prev.week_idx + 1) AS week_idx,
         COALESCE(cur.l_partkey, prev.l_partkey) AS pk,
         cur.l_partkey IS NOT NULL AND prev.l_partkey IS NULL AS entered,
         cur.l_partkey IS NULL AND prev.l_partkey IS NOT NULL AS exited
  FROM top cur FULL OUTER JOIN top prev
    ON prev.week_idx = cur.week_idx - 1 AND prev.l_partkey = cur.l_partkey
)
SELECT week_idx,
       CAST(sum(CASE WHEN entered THEN 1 ELSE 0 END) AS BIGINT) AS n_entered,
       CAST(sum(CASE WHEN exited THEN 1 ELSE 0 END) AS BIGINT) AS n_exited,
       string_agg(CASE WHEN entered THEN CAST(pk AS VARCHAR) END, ','
                  ORDER BY pk) AS entered_parts
FROM chg CROSS JOIN b
WHERE week_idx > w0 AND week_idx <= w1
GROUP BY week_idx ORDER BY week_idx
""",
)
def q_win_topn_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly top-10 mover report: which parts ENTERED and EXITED the
    top-10-by-revenue leaderboard each week — the rank-churn query
    behind every trending dashboard (a leaderboard alone says who's on
    top; churn says how volatile the top is; q_win_momentum tracks
    volume deltas, this tracks MEMBERSHIP deltas).

    Scale shape: aggregate-first to (week, part) revenue in exact
    DECIMAL (rank ties broken by partkey so both engines pick the same
    top set); per-week top-10 via row_number ≤ 10 — Spark pushes a
    per-partition k-heap below the shuffle (WindowGroupLimit), so map
    tasks emit ≤10 rows per week; the mover diff is then a FULL OUTER
    join of adjacent weeks over ≤10-row frames — post-agg cost
    O(weeks·10), regardless of lineitem volume. Entered lists are
    sorted comma-joined strings (array cells don't hash in the
    driver's canonicalizer).
    """
    li = load_table(spark, sf_dir, "lineitem")
    wk = (
        li.select(
            F.floor(F.unix_timestamp("l_shipdate") / 604800)
            .cast("long")
            .alias("week_idx"),
            "l_partkey",
            F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("week_idx", "l_partkey")
        .agg(F.sum("p").alias("rev"))
    )
    w = W.partitionBy("week_idx").orderBy(F.col("rev").desc(), "l_partkey")
    top = (
        wk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("week_idx", "l_partkey")
    )
    cur = top.alias("cur")
    prev = top.select(
        (F.col("week_idx") + 1).alias("week_idx"),
        F.col("l_partkey").alias("prev_pk"),
    ).alias("prev")
    joined = cur.join(
        prev,
        (F.col("cur.week_idx") == F.col("prev.week_idx"))
        & (F.col("cur.l_partkey") == F.col("prev.prev_pk")),
        "full",
    ).select(
        F.coalesce(F.col("cur.week_idx"), F.col("prev.week_idx")).alias(
            "week_idx"
        ),
        F.coalesce(F.col("cur.l_partkey"), F.col("prev.prev_pk")).alias("pk"),
        (F.col("cur.l_partkey").isNotNull() & F.col("prev.prev_pk").isNull())
        .alias("entered"),
        (F.col("cur.l_partkey").isNull() & F.col("prev.prev_pk").isNotNull())
        .alias("exited"),
    )
    bounds = top.agg(
        F.min("week_idx").alias("w0"), F.max("week_idx").alias("w1")
    )
    return (
        joined.join(F.broadcast(bounds))
        .filter((F.col("week_idx") > F.col("w0")) & (F.col("week_idx") <= F.col("w1")))
        .groupBy("week_idx")
        .agg(
            F.sum(F.when(F.col("entered"), 1).otherwise(0))
            .cast("long")
            .alias("n_entered"),
            F.sum(F.when(F.col("exited"), 1).otherwise(0))
            .cast("long")
            .alias("n_exited"),
            # NULL (not '') when nothing entered: DuckDB's string_agg
            # over zero non-NULL values is NULL, and a stable week must
            # hash identically in both engines
            F.nullif(
                F.array_join(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("entered"), F.col("pk"))
                        )
                    ).cast("array<string>"),
                    ",",
                ),
                F.lit(""),
            ).alias("entered_parts"),
        )
        .orderBy("week_idx")
    )


@query(
    "q_rfm_migration",
    # Period boundary = exact integer epoch midpoint; quintiles are
    # ntile(5) by DECIMAL spend with custkey tiebreak (deterministic
    # under ties, the q_rfm discipline); inactive halves enter as the
    # 'inactive' segment via the full-outer customer join.
    oracle="""
WITH b AS (
  SELECT CAST(floor(epoch(min(o_orderdate))) AS BIGINT) AS e0,
         (CAST(floor(epoch(min(o_orderdate))) AS BIGINT)
          + CAST(floor(epoch(max(o_orderdate))) AS BIGINT)) // 2 AS mid
  FROM orders
),
s AS (
  SELECT o_custkey,
         CASE WHEN CAST(floor(epoch(o_orderdate)) AS BIGINT)
                   <= (SELECT mid FROM b)
              THEN 1 ELSE 2 END AS period,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
sp AS (
  SELECT o_custkey, period, sum(price) AS spend
  FROM s GROUP BY 1, 2
),
seg AS (
  SELECT o_custkey, period,
         ntile(5) OVER (PARTITION BY period
                        ORDER BY spend DESC, o_custkey) AS q
  FROM sp
),
m AS (
  SELECT COALESCE(p1.o_custkey, p2.o_custkey) AS ck,
         COALESCE('Q' || CAST(p1.q AS VARCHAR), 'inactive') AS from_seg,
         COALESCE('Q' || CAST(p2.q AS VARCHAR), 'inactive') AS to_seg
  FROM (SELECT * FROM seg WHERE period = 1) p1
  FULL OUTER JOIN (SELECT * FROM seg WHERE period = 2) p2
    ON p2.o_custkey = p1.o_custkey
),
c AS (
  SELECT from_seg, to_seg, CAST(count(*) AS BIGINT) AS n_customers
  FROM m GROUP BY 1, 2
),
ft AS (SELECT from_seg, sum(n_customers) AS tot FROM c GROUP BY 1)
SELECT c.from_seg, c.to_seg, c.n_customers,
       round(CAST(c.n_customers AS DOUBLE) / ft.tot, 6) AS share_of_from
FROM c JOIN ft USING (from_seg)
ORDER BY from_seg, to_seg
""",
)
def q_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment-migration matrix: spend quintile in the first
    half of the time range vs the second, with 'inactive' as a real
    segment on both axes — the retention-marketing report q_rfm's
    static snapshot can't answer (WHO is sliding from Q1 to Q3, how
    much of Q1 churns outright, where do new customers enter). Each
    cell carries the share of its origin segment.

    Scale shape: orders reduce to (customer, period) DECIMAL spend
    first (one partial-agg shuffle). Below the ``exact_window_ok`` gate
    the ntile windows sort the AGGREGATED customers×2 frame per period
    (two data-sized partitions — fine at dimension customer counts);
    above it the DEFAULT swaps to the ``dist_cumsum`` rank spine with
    ``part_cols=[period]`` + closed-form ``spark_ntile`` — same
    (spend DESC, o_custkey) total order per period, bit-identical
    quintiles, no partition that grows with the customer count. The
    migration matrix is a full-outer self-join on the customer key of
    two customer-sized frames and a ≤36-row report. The period
    boundary is exact integer epoch arithmetic — a float midpoint
    could put a boundary order in different halves per engine.
    """
    o = load_table(spark, sf_dir, "orders")
    ep = F.floor(F.unix_timestamp("o_orderdate")).cast("long")
    b = F.broadcast(
        o.agg(
            F.min(ep).alias("e0"),
            F.floor((F.min(ep) + F.max(ep)) / 2).cast("long").alias("mid"),
        )
    )
    s = o.crossJoin(b).select(
        "o_custkey",
        F.when(ep <= F.col("mid"), 1).otherwise(2).alias("period"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    sp = s.groupBy("o_custkey", "period").agg(F.sum("price").alias("spend"))
    if exact_window_ok(o):
        seg = sp.select(
            "o_custkey",
            "period",
            F.ntile(5)
            .over(
                W.partitionBy("period").orderBy(
                    F.col("spend").desc(), "o_custkey"
                )
            )
            .alias("q"),
        )
    else:
        ranked = dist_cumsum(
            sp.withColumn("one", F.lit(1)),
            "spend",
            ["one"],
            part_cols=["period"],
            tiebreak=["o_custkey"],
            descending=True,
        )
        np_ = F.broadcast(
            sp.groupBy("period").agg(F.count(F.lit(1)).alias("_n"))
        )
        seg = ranked.join(np_, "period").select(
            "o_custkey",
            "period",
            spark_ntile(F.col("cum_one"), F.col("_n"), 5).alias("q"),
        )
    seg = seg.localCheckpoint(eager=False)  # feeds both join sides
    p1 = seg.filter(F.col("period") == 1).select(
        F.col("o_custkey").alias("ck1"), F.col("q").alias("q1")
    )
    p2 = seg.filter(F.col("period") == 2).select(
        F.col("o_custkey").alias("ck2"), F.col("q").alias("q2")
    )
    m = p1.join(p2, p1.ck1 == p2.ck2, "full").select(
        F.coalesce(
            F.concat(F.lit("Q"), F.col("q1").cast("string")), F.lit("inactive")
        ).alias("from_seg"),
        F.coalesce(
            F.concat(F.lit("Q"), F.col("q2").cast("string")), F.lit("inactive")
        ).alias("to_seg"),
    )
    c = m.groupBy("from_seg", "to_seg").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    ft = c.groupBy("from_seg").agg(F.sum("n_customers").alias("tot"))
    return (
        c.join(ft, "from_seg")
        .select(
            "from_seg",
            "to_seg",
            F.col("n_customers").cast("long").alias("n_customers"),
            F.round(
                F.col("n_customers").cast("double") / F.col("tot"), 6
            ).alias("share_of_from"),
        )
        .orderBy("from_seg", "to_seg")
    )


@query(
    "q_orders_abc_xyz",
    # ABC thresholds compare in cross-multiplied exact DECIMAL (the
    # q_win_pareto device: 5·cum ≤ 4·tot for A, 20·cum ≤ 19·tot for B);
    # XYZ's CV comes from exact DECIMAL power sums over the DENSE week
    # grid (a sparse part's zero weeks ARE its variability). Only the
    # final CV comparison is double, identical in both engines.
    oracle="""
WITH li AS (
  SELECT l_partkey,
         CAST(floor(epoch(l_shipdate) / 604800) AS BIGINT) AS week,
         CAST(l_quantity AS DECIMAL(18,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS rev
  FROM lineitem
),
wk AS (SELECT count(DISTINCT week) AS n_weeks FROM li),
p AS (
  SELECT l_partkey,
         sum(rev) AS revenue,
         sum(qty) AS sq,
         sum(qty * qty) AS sqq
  FROM li GROUP BY l_partkey
),
abc AS (
  SELECT l_partkey, revenue, sq, sqq,
         sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
         sum(revenue) OVER () AS tot
  FROM p
),
cls AS (
  SELECT l_partkey, revenue,
         CASE WHEN 5 * cum <= 4 * tot THEN 'A'
              WHEN 20 * cum <= 19 * tot THEN 'B'
              ELSE 'C' END AS abc,
         CASE WHEN sq = 0 THEN 'Z'
              WHEN sqrt(greatest(
                     (CAST(sqq AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n_weeks)
                     / (n_weeks - 1), 0))
                   / (CAST(sq AS DOUBLE) / n_weeks) < 0.5 THEN 'X'
              WHEN sqrt(greatest(
                     (CAST(sqq AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n_weeks)
                     / (n_weeks - 1), 0))
                   / (CAST(sq AS DOUBLE) / n_weeks) < 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM abc CROSS JOIN wk
)
SELECT abc, xyz,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(revenue) AS DOUBLE), 2) AS total_revenue
FROM cls GROUP BY abc, xyz ORDER BY abc, xyz
""",
)
def q_orders_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory classification matrix: parts classed by
    revenue concentration (A = the ~80% head, B to 95%, C the tail —
    q_win_pareto's cut applied as a label) crossed with demand
    VARIABILITY (weekly-demand coefficient of variation over the dense
    week grid: X steady < 0.5, Y < 1.0, Z erratic) — the supply-chain
    planning matrix (AX = automate replenishment, CZ = stock-to-order)
    that neither analysis alone gives.

    Scale shape: lineitem reduces ONCE to per-part (revenue, Σq, Σq²)
    in exact DECIMAL — variance needs no second pass and no weekly
    sub-frame, because zero-demand weeks enter through the GLOBAL week
    count, not materialized rows (a sparse part's zeros ARE its
    variability; dividing by observed weeks understates CV exactly for
    the erratic parts the Z class exists to catch). The ABC cut's
    cumulative revenue runs one single-partition window over the parts
    frame below the ``exact_window_ok`` gate, and through the
    ``dist_cumsum`` distributed prefix (same (revenue DESC, l_partkey)
    order, exact DECIMAL, bit-identical) above it — at 100 TB |parts|
    is entity-sized and the DEFAULT must not sort it on one partition.
    The grand total is a broadcast 1-row aggregate either way, and the
    matrix is 9 rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        "l_partkey",
        F.floor(F.unix_timestamp("l_shipdate") / 604800)
        .cast("long")
        .alias("week"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("rev"),
    )
    wk = F.broadcast(
        t.agg(F.countDistinct("week").alias("n_weeks"))
    )
    p = t.groupBy("l_partkey").agg(
        F.sum("rev").alias("revenue"),
        F.sum("qty").alias("sq"),
        F.sum(F.col("qty") * F.col("qty")).alias("sqq"),
    )
    tot = F.broadcast(p.agg(F.sum("revenue").alias("tot")))
    if exact_window_ok(li):
        wcum = (
            W.partitionBy(bounded_part(F.col("sq")))
            .orderBy(F.col("revenue").desc(), "l_partkey")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cummed = p.select(
            "l_partkey", "revenue", "sq", "sqq",
            F.sum("revenue").over(wcum).alias("cum"),
        )
    else:
        cummed = dist_cumsum(
            p, "revenue", ["revenue"],
            tiebreak=["l_partkey"], descending=True,
        ).select(
            "l_partkey", "revenue", "sq", "sqq",
            F.col("cum_revenue").alias("cum"),
        )
    abc_f = cummed.crossJoin(tot).crossJoin(wk)
    nw = F.col("n_weeks").cast("double")
    mean = F.col("sq").cast("double") / nw
    var = F.greatest(
        (
            F.col("sqq").cast("double")
            - F.col("sq").cast("double") * F.col("sq").cast("double") / nw
        )
        / (nw - 1),
        F.lit(0.0),
    )
    cv = F.sqrt(var) / mean
    cls = abc_f.select(
        "revenue",
        F.when(5 * F.col("cum") <= 4 * F.col("tot"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("sq") == 0, "Z")
        # a single observed week has no measurable variability — the
        # erratic class is the honest verdict, and it short-circuits
        # the (n_weeks − 1) divisor before ANSI can object
        .when(F.col("n_weeks") <= 1, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        cls.groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("revenue").cast("double"), 2).alias(
                "total_revenue"
            ),
        )
        .orderBy("abc", "xyz")
    )


@query(
    "q_orders_bridge",
    # Period sums are exact DECIMAL; the bridge effects are the
    # standard identities vol = (Q2-Q1)*(R1/Q1), price = Q2*(R2/Q2 -
    # R1/Q1), which sum to R2-R1 ALGEBRAICALLY — both engines compute
    # the same doubles from the same exact sums, and the residual
    # check is emitted so the identity is visible, not assumed.
    oracle="""
WITH b AS (
  SELECT (CAST(floor(epoch(min(l_shipdate))) AS BIGINT)
          + CAST(floor(epoch(max(l_shipdate))) AS BIGINT)) // 2 AS mid
  FROM lineitem
),
s AS (
  SELECT l_returnflag AS grp,
         CASE WHEN CAST(floor(epoch(l_shipdate)) AS BIGINT)
                   <= (SELECT mid FROM b) THEN 1 ELSE 2 END AS period,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS q,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
  FROM lineitem GROUP BY 1, 2
),
p AS (
  SELECT p1.grp,
         CAST(p1.q AS DOUBLE) AS q1, CAST(p1.r AS DOUBLE) AS r1,
         CAST(p2.q AS DOUBLE) AS q2, CAST(p2.r AS DOUBLE) AS r2
  FROM (SELECT * FROM s WHERE period = 1) p1
  JOIN (SELECT * FROM s WHERE period = 2) p2 ON p2.grp = p1.grp
  WHERE p1.q > 0 AND p2.q > 0
)
SELECT grp AS l_returnflag,
       round(r1, 2) AS rev_p1, round(r2, 2) AS rev_p2,
       round(r2 - r1, 2) AS delta_rev,
       round((q2 - q1) * (r1 / q1), 6) AS volume_effect,
       round(q2 * (r2 / q2 - r1 / q1), 6) AS price_effect,
       round((r2 - r1) - ((q2 - q1) * (r1 / q1) + q2 * (r2 / q2 - r1 / q1)),
             6) + 0.0 AS residual
FROM p ORDER BY l_returnflag
""",
)
def q_orders_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume bridge: period-over-period revenue change per
    return-flag class decomposed into VOLUME effect ((Q₂−Q₁)·p̄₁) and
    PRICE effect (Q₂·(p̄₂−p̄₁)) — the FP&A waterfall behind every
    "why did revenue move" review; the two effects sum to ΔRev by
    algebraic identity, and the residual column PROVES it per row
    (zero up to rounding) instead of asserting it in prose.

    Scale shape: one partial-aggregated pass to (group, period)
    DECIMAL sums of quantity and revenue — the only data-sized work;
    the bridge is closed-form arithmetic on a groups-sized join of the
    two period frames. The period boundary is the exact integer epoch
    midpoint (q_rfm_migration's device); groups missing a period drop
    via the Q>0 guard rather than emitting division garbage. Finer
    bridges (per part, plus a mix effect) add group keys to the same
    plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ep = F.floor(F.unix_timestamp("l_shipdate")).cast("long")
    b = F.broadcast(
        li.agg(F.floor((F.min(ep) + F.max(ep)) / 2).cast("long").alias("mid"))
    )
    s = (
        li.crossJoin(b)
        .select(
            F.col("l_returnflag").alias("grp"),
            F.when(ep <= F.col("mid"), 1).otherwise(2).alias("period"),
            F.col("l_quantity").cast("decimal(18,2)").alias("q"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("r"),
        )
        .groupBy("grp", "period")
        .agg(F.sum("q").alias("q"), F.sum("r").alias("r"))
    )
    p1 = s.filter(F.col("period") == 1).select(
        "grp",
        F.col("q").cast("double").alias("q1"),
        F.col("r").cast("double").alias("r1"),
    )
    p2 = s.filter(F.col("period") == 2).select(
        F.col("grp").alias("grp2"),
        F.col("q").cast("double").alias("q2"),
        F.col("r").cast("double").alias("r2"),
    )
    p = p1.join(p2, p1.grp == p2.grp2).filter(
        (F.col("q1") > 0) & (F.col("q2") > 0)
    )
    vol = (F.col("q2") - F.col("q1")) * (F.col("r1") / F.col("q1"))
    prc = F.col("q2") * (F.col("r2") / F.col("q2") - F.col("r1") / F.col("q1"))
    return p.select(
        F.col("grp").alias("l_returnflag"),
        F.round("r1", 2).alias("rev_p1"),
        F.round("r2", 2).alias("rev_p2"),
        F.round(F.col("r2") - F.col("r1"), 2).alias("delta_rev"),
        F.round(vol, 6).alias("volume_effect"),
        F.round(prc, 6).alias("price_effect"),
        # + 0.0 normalizes IEEE negative zero (round can yield -0.0 in
        # one engine and 0.0 in the other; -0.0 + 0.0 = +0.0 in both)
        (F.round((F.col("r2") - F.col("r1")) - (vol + prc), 6) + 0.0).alias(
            "residual"
        ),
    ).orderBy("l_returnflag")


_INV_TOP_K = 20


@query(
    "q_orders_inventory",
    # Signed integer flows (returns restock), partitioned running sums
    # on (part, ship-day, orderkey tiebreak); peak/final from exact
    # integers; top-20 on (peak desc, part) is engine-identical.
    oracle=f"""
WITH flow AS (
  SELECT l_partkey,
         CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT) AS day,
         l_orderkey,
         CAST(CASE WHEN l_returnflag = 'R' THEN -l_quantity
                   ELSE l_quantity END AS BIGINT) AS q
  FROM lineitem
),
run AS (
  SELECT l_partkey, q,
         sum(q) OVER (PARTITION BY l_partkey ORDER BY day, l_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS bal
  FROM flow
),
s AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS n_moves,
         CAST(max(bal) AS BIGINT) AS peak_outstanding,
         CAST(sum(q) AS BIGINT) AS final_balance
  FROM run GROUP BY l_partkey
)
SELECT l_partkey, n_moves, peak_outstanding, final_balance
FROM s ORDER BY peak_outstanding DESC, l_partkey LIMIT {_INV_TOP_K}
""",
)
def q_orders_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part shipped-inventory ledger: running outstanding balance
    (shipments add, returns subtract) over ship time, reporting each
    part's PEAK outstanding and final balance, top-{k} by peak — the
    inventory/WIP exposure query ("how much of this part was ever in
    flight at once"), and the PARTITIONED-cumsum archetype: contrast
    q_ts_changepoint's GLOBAL prefix (which needs ``dist_cumsum``) —
    here the cumulative is per part, so a plain partitioned window is
    already fully distributed (thousands of part partitions, each
    frame small) and needs no special device.

    Scale shape: one window on (part, day, orderkey) — one shuffle on
    l_partkey; quantities are cast to exact BIGINTs (TPC-H quantities
    are integral) so the running balance and its max are exact; a
    grouped rollup on the same partitioning (no second shuffle — the
    window's hash partitioning is reused by the groupBy) and a
    TakeOrderedAndProject top-{k}. Hot parts are bounded by the order
    stream itself; a pathological single-part feed degenerates to one
    partition and is the one shape that would need day-bucketed
    salting, stated here.
    """
    li = load_table(spark, sf_dir, "lineitem")
    flow = li.select(
        "l_partkey",
        F.floor(
            F.unix_timestamp("l_shipdate").cast("double") / 86400
        ).cast("long").alias("day"),
        "l_orderkey",
        F.when(
            F.col("l_returnflag") == "R", -F.col("l_quantity")
        ).otherwise(F.col("l_quantity")).cast("long").alias("q"),
    )
    w = (
        W.partitionBy("l_partkey")
        .orderBy("day", "l_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    run = flow.select(
        "l_partkey", "q", F.sum("q").over(w).alias("bal")
    )
    s = run.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_moves"),
        F.max("bal").alias("peak_outstanding"),
        F.sum("q").alias("final_balance"),
    )
    return (
        s.select(
            "l_partkey",
            F.col("n_moves").cast("long").alias("n_moves"),
            F.col("peak_outstanding").cast("long").alias("peak_outstanding"),
            F.col("final_balance").cast("long").alias("final_balance"),
        )
        .orderBy(F.col("peak_outstanding").desc(), "l_partkey")
        .limit(_INV_TOP_K)
    )


q_orders_inventory.__doc__ = q_orders_inventory.__doc__.format(k=_INV_TOP_K)


@query(
    "q_skyline", scan_repair=False,
    # The oracle is the DEFINITION (anti-dominance NOT EXISTS over the
    # raw table); the engine never runs that O(n²) form — equality of
    # the two is exactly what the check proves. Prices are 2dp doubles
    # and sizes integers, so every comparison is exact.
    oracle="""
SELECT p.p_partkey, p.p_size, p.p_retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p.p_size, p.p_partkey
""",
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) operator — all parts not dominated on
    (price ↓, size ↑): the multi-objective shortlist query (cheapest-
    per-capability products, best cost/quality corpus slices) that SQL
    only states as a correlated NOT EXISTS self-join, O(n²).

    Scale shape — the 2-D skyline collapses to a SPINE problem: ONE
    partial-aggregated pass reduces the data to min(price) per
    distinct size (|sizes| rows — bounded dimension, 50 here), a
    strict running-min over the larger-size suffix of that spine
    (constant-partition window, never data-sized) marks the frontier
    sizes, and one broadcast semi-join pulls every tied original row
    back out. Dominance semantics handled exactly: a row not at its
    size's min price is dominated within the size (strict in price);
    a size whose min price is not strictly below every larger size's
    min is dominated by that larger size (strict in size, ≤ in
    price). The n² definitional form appears ONLY as the oracle.
    """
    p = load_table(spark, sf_dir, "part")
    spine = p.groupBy("p_size").agg(
        F.min("p_retailprice").alias("min_price")
    )
    # strict min over strictly-larger sizes; the fold-proof constant
    # partition key (bounded_part — a bare lit or col*0 is optimized
    # away and the warning returns) keeps the |sizes|-row window off
    # the single-partition-warning path.
    wsuf = (
        W.partitionBy(bounded_part(F.col("p_size")))
        .orderBy(F.col("p_size").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    frontier = (
        spine.withColumn("suffix_min", F.min("min_price").over(wsuf))
        .filter(
            F.col("suffix_min").isNull()
            | (F.col("min_price") < F.col("suffix_min"))
        )
        .select("p_size", "min_price")
    )
    return (
        p.join(
            F.broadcast(frontier),
            (p["p_size"] == frontier["p_size"])
            & (p["p_retailprice"] == frontier["min_price"]),
            "left_semi",
        )
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_size", "p_partkey")
    )


@query(
    "q_orders_vintage",
    # Month index = year*12 + month — pure integer date-part arithmetic
    # identical in both engines (no epoch division, no cast-rounding
    # exposure); every metric is exact integers until the one emitted
    # ratio per cell.
    oracle="""
WITH om AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) AS m,
         o_totalprice
  FROM orders
),
fc AS (SELECT o_custkey, min(m) AS cohort FROM om GROUP BY o_custkey),
cell AS (
  SELECT fc.cohort, om.m - fc.cohort AS age,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(count(DISTINCT om.o_custkey) AS BIGINT) AS n_active,
         CAST(sum(CAST(om.o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
           AS revenue
  FROM om JOIN fc USING (o_custkey)
  GROUP BY 1, 2
),
sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
       FROM fc GROUP BY cohort)
SELECT CAST(c.cohort AS BIGINT) AS cohort_month,
       CAST(c.age AS BIGINT) AS age_months,
       sz.cohort_size, c.n_active, c.n_orders,
       round(c.n_active * 1.0 / sz.cohort_size, 6) AS active_share,
       round(c.revenue / c.n_active, 6) AS revenue_per_active
FROM cell c JOIN sz USING (cohort)
ORDER BY cohort_month, age_months
""",
)
def q_orders_vintage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vintage (cohort × age) analysis of ORDER behavior: customers
    cohorted by first-order month, each later month measured as
    activity at age = months-since — the triangle behind "are newer
    vintages better" (lending, subscriptions, marketplaces all read
    this table). q_retention tracks event-level user return on a week
    grid; this is the ORDER-book vintage matrix with per-cell revenue
    — the finance-facing sibling.

    Scale shape: one min-aggregation per customer (partial-agg
    combinable integer month index), one broadcast-joinable cohort
    frame (|customers| rows but only the two integer columns), one
    grouped pass to the (cohort, age) cell frame — dimension-sized
    (months²/2). Month index = year·12+month: pure integer date-part
    arithmetic, no epoch-division cast exposure.
    """
    o = load_table(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    om = o.select("o_custkey", m, "o_totalprice")
    fc = om.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    cell = (
        om.join(fc, "o_custkey")
        .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("age"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_active"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    sz = fc.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return (
        cell.join(sz, "cohort")
        .select(
            F.col("cohort").cast("long").alias("cohort_month"),
            F.col("age").cast("long").alias("age_months"),
            "cohort_size",
            "n_active",
            "n_orders",
            F.round(F.col("n_active") * 1.0 / F.col("cohort_size"), 6)
            .alias("active_share"),
            F.round(F.col("revenue") / F.col("n_active"), 6).alias(
                "revenue_per_active"
            ),
        )
        .orderBy("cohort_month", "age_months")
    )


@query(
    "q_orders_pvm",
    # Period boundary = the exact integer epoch midpoint (q_split_time
    # device); per-cell sums exact DECIMAL; the three effects and the
    # additivity boolean are identical IEEE chains per priority row.
    oracle="""
WITH b AS (
  SELECT CAST(floor((min(epoch(o_orderdate))
                     + max(epoch(o_orderdate))) / 2) AS BIGINT) AS mid
  FROM orders
),
c AS (
  SELECT o_orderpriority AS pri,
    CASE WHEN CAST(floor(epoch(o_orderdate)) AS BIGINT) <= b.mid
         THEN 0 ELSE 1 END AS period,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS rev
  FROM orders CROSS JOIN b GROUP BY 1, 2
),
p AS (
  SELECT pri,
    CAST(COALESCE(max(CASE WHEN period = 0 THEN n END), 0) AS BIGINT)
      AS n0,
    CAST(COALESCE(max(CASE WHEN period = 1 THEN n END), 0) AS BIGINT)
      AS n1,
    COALESCE(max(CASE WHEN period = 0 THEN rev END), 0.0) AS r0,
    COALESCE(max(CASE WHEN period = 1 THEN rev END), 0.0) AS r1
  FROM c GROUP BY pri
),
d AS (
  SELECT pri, n0, n1, r0, r1,
    CASE WHEN n0 > 0 THEN r0 / n0 ELSE 0.0 END AS a0,
    CASE WHEN n1 > 0 THEN r1 / n1 ELSE 0.0 END AS a1
  FROM p
)
SELECT pri AS o_orderpriority, n0, n1,
       round(r1 - r0, 6) AS gmv_delta,
       round((n1 - n0) * a0, 6) AS volume_effect,
       round(n0 * (a1 - a0), 6) AS price_effect,
       round((n1 - n0) * (a1 - a0), 6) AS mix_effect,
       CASE WHEN n0 > 0 AND n1 > 0
            THEN abs((r1 - r0) - ((n1 - n0) * a0 + n0 * (a1 - a0)
                                  + (n1 - n0) * (a1 - a0))) <= 0.000001
            ELSE false END AS additivity_ok
FROM d ORDER BY o_orderpriority
""",
)
def q_orders_pvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix decomposition of GMV growth per order priority
    — the FP&A bridge chart: ΔGMV splits EXACTLY into volume effect
    (Δn·avg₀), price effect (n₀·Δavg), and the interaction term
    (Δn·Δavg), comparing the first and second halves of the order
    history (q_split_time's exact epoch-midpoint boundary). The
    additivity identity is asserted in-query — the property that makes
    the bridge a decomposition instead of three disconnected numbers.
    The "WHY did revenue move" operator that plain period-over-period
    deltas (q_win_momentum) cannot answer.

    Scale shape: ONE partial-aggregated pass to the (priority, period)
    cells — the period flag is a map-side comparison against a 1-row
    broadcast midpoint; the pivot to per-priority columns, the three
    effects, and the identity check all run on the |priorities|-row
    frame. Exact DECIMAL revenue sums; one IEEE chain per emitted
    column.
    """
    o = load_table(spark, sf_dir, "orders")
    ep = F.floor(F.unix_timestamp("o_orderdate")).cast("long")
    b = F.broadcast(
        o.agg(
            F.floor((F.min(ep) + F.max(ep)) / 2).cast("long").alias("mid")
        )
    )
    c = (
        o.crossJoin(b)
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.when(ep <= F.col("mid"), 0).otherwise(1).alias("period"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("rev"),
        )
    )
    p = c.groupBy("pri").agg(
        F.coalesce(F.max(F.when(F.col("period") == 0, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n0"),
        F.coalesce(F.max(F.when(F.col("period") == 1, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n1"),
        F.coalesce(
            F.max(F.when(F.col("period") == 0, F.col("rev"))), F.lit(0.0)
        ).alias("r0"),
        F.coalesce(
            F.max(F.when(F.col("period") == 1, F.col("rev"))), F.lit(0.0)
        ).alias("r1"),
    )
    a0 = F.when(F.col("n0") > 0, F.col("r0") / F.col("n0")).otherwise(0.0)
    a1 = F.when(F.col("n1") > 0, F.col("r1") / F.col("n1")).otherwise(0.0)
    dn = F.col("n1") - F.col("n0")
    recon = dn * a0 + F.col("n0") * (a1 - a0) + dn * (a1 - a0)
    return p.select(
        F.col("pri").alias("o_orderpriority"),
        "n0",
        "n1",
        F.round(F.col("r1") - F.col("r0"), 6).alias("gmv_delta"),
        F.round(dn * a0, 6).alias("volume_effect"),
        F.round(F.col("n0") * (a1 - a0), 6).alias("price_effect"),
        F.round(dn * (a1 - a0), 6).alias("mix_effect"),
        F.when(
            (F.col("n0") > 0) & (F.col("n1") > 0),
            F.abs((F.col("r1") - F.col("r0")) - recon) <= 0.000001,
        )
        .otherwise(F.lit(False))
        .alias("additivity_ok"),
    ).orderBy("o_orderpriority")


@query(
    "q_orders_aging",
    # Ages are exact integer day differences from the max-date
    # snapshot; bucket sums are DECIMAL-armored money; shares are one
    # IEEE division each.
    oracle="""
WITH snap AS (
  SELECT max(CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)) AS today
  FROM orders
),
open_orders AS (
  SELECT o_totalprice,
         (SELECT today FROM snap)
           - CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS age
  FROM orders WHERE o_orderstatus != 'F'
),
bucketed AS (
  SELECT CASE WHEN age <= 30 THEN 0 WHEN age <= 60 THEN 31
              WHEN age <= 90 THEN 61 WHEN age <= 180 THEN 91
              ELSE 181 END AS bucket_start,
         CASE WHEN age <= 30 THEN '000-030' WHEN age <= 60 THEN '031-060'
              WHEN age <= 90 THEN '061-090' WHEN age <= 180 THEN '091-180'
              ELSE '180+' END AS age_bucket,
         o_totalprice
  FROM open_orders
),
agg AS (
  SELECT bucket_start, age_bucket,
         CAST(count(*) AS BIGINT) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(28,2))) AS v
  FROM bucketed GROUP BY 1, 2
),
tot AS (SELECT sum(v) AS tv, CAST(sum(n_orders) AS BIGINT) AS tn FROM agg)
SELECT CAST(bucket_start AS INT) AS bucket_start, age_bucket, n_orders,
       round(CAST(v AS DOUBLE), 2) AS open_value,
       round(CAST(v AS DOUBLE) / CAST(tv AS DOUBLE), 6) AS value_share,
       round(CAST(n_orders AS DOUBLE) / tn, 6) AS order_share
FROM agg CROSS JOIN tot
ORDER BY bucket_start
""",
)
def q_orders_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Receivables-style aging report: open (non-'F') orders bucketed
    by age at the data's own snapshot date (max order date), with
    order counts, open value and value/order shares per bucket — the
    working-capital readout finance runs weekly, and the backlog
    staleness twin of q_orders_backlog (that op tracks the LEVEL over
    time; this one decomposes TODAY's level by how long it has sat).

    Scale shape: one broadcast 1-row snapshot reduce, then ONE
    map-combinable pass bucketing each open order by an exact integer
    day difference into five fixed buckets (the classic 30/60/90/180
    fences) — output is 5 rows regardless of input size; shares ride
    one broadcast totals row. Money sums are DECIMAL-armored
    (merge-order-proof); ages are integers, so bucket edges can never
    wobble between engines.
    """
    o = load_table(spark, sf_dir, "orders")
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
    snap = F.broadcast(o.agg(F.max(day).alias("today")))
    age = F.col("today") - F.col("oday")
    b = (
        o.filter(F.col("o_orderstatus") != "F")
        .select("o_totalprice", day.alias("oday"))
        .crossJoin(snap)
        .select(
            "o_totalprice",
            F.when(age <= 30, 0)
            .when(age <= 60, 31)
            .when(age <= 90, 61)
            .when(age <= 180, 91)
            .otherwise(181)
            .alias("bucket_start"),
            F.when(age <= 30, "000-030")
            .when(age <= 60, "031-060")
            .when(age <= 90, "061-090")
            .when(age <= 180, "091-180")
            .otherwise("180+")
            .alias("age_bucket"),
        )
    )
    agg = b.groupBy("bucket_start", "age_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("v"),
    )
    tot = F.broadcast(
        agg.agg(
            F.sum("v").alias("tv"),
            F.sum("n_orders").cast("long").alias("tn"),
        )
    )
    return (
        agg.crossJoin(tot)
        .select(
            F.col("bucket_start").cast("int").alias("bucket_start"),
            "age_bucket",
            "n_orders",
            F.round(F.col("v").cast("double"), 2).alias("open_value"),
            F.round(
                F.col("v").cast("double") / F.col("tv").cast("double"), 6
            ).alias("value_share"),
            F.round(
                F.col("n_orders").cast("double") / F.col("tn"), 6
            ).alias("order_share"),
        )
        .orderBy("bucket_start")
    )


@query(
    "q_orders_crk",
    # Per-customer revenue is an exact DECIMAL sum; the top-20 cutoff
    # orders by (exact revenue desc, custkey); each CR-k share is one
    # IEEE division of two exact-DECIMAL-derived doubles.
    oracle="""
WITH per AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6))
           AS rev
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(rev) AS DOUBLE) AS total_rev
  FROM per
),
top AS (
  SELECT rev, row_number() OVER (ORDER BY rev DESC, o_custkey) AS rn
  FROM per ORDER BY rev DESC, o_custkey LIMIT 20
)
SELECT t.n_customers,
       round(t.total_rev, 2) AS total_rev,
       round(CAST(sum(CASE WHEN rn <= 4 THEN rev END) AS DOUBLE)
             / t.total_rev, 6) AS cr4,
       round(CAST(sum(CASE WHEN rn <= 8 THEN rev END) AS DOUBLE)
             / t.total_rev, 6) AS cr8,
       round(CAST(sum(rev) AS DOUBLE) / t.total_rev, 6) AS cr20
FROM top CROSS JOIN tot t
GROUP BY t.n_customers, t.total_rev
""",
)
def q_orders_crk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer concentration ratios CR4 / CR8 / CR20: the revenue
    share of the top-4/8/20 customers — the antitrust-style
    concentration readout beside q_agg_hhi's single index: HHI
    compresses the whole distribution into one number, CR-k says
    "four accounts are 60% of revenue", which is how key-account risk
    is actually briefed. Ranking is exact (DECIMAL revenue, custkey
    tiebreak), so the cutoff cannot flip between engines.

    Scale shape: one customer-keyed map-combinable DECIMAL reduce,
    then a TakeOrderedAndProject top-20 (per-task k-heaps — the
    |customers| frame never globally sorts) ranked on a 20-row bounded
    frame, one O(1) total broadcast, one output row. The CR-k
    divisions are the only floats.
    """
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("decimal(28,6)")
        .alias("rev")
    )
    tot = F.broadcast(
        per.agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev").cast("double").alias("total_rev"),
        )
    )
    top = (
        per.orderBy(F.col("rev").desc(), "o_custkey")
        .limit(20)
        .select(
            "rev",
            F.row_number()
            .over(
                W.partitionBy(bounded_part(F.col("o_custkey"))).orderBy(
                    F.col("rev").desc(), "o_custkey"
                )
            )
            .alias("rn"),
        )
    )
    return (
        top.crossJoin(tot)
        .groupBy("n_customers", "total_rev")
        .agg(
            F.round(
                F.sum(F.when(F.col("rn") <= 4, F.col("rev")))
                .cast("double")
                / F.first("total_rev"),
                6,
            ).alias("cr4"),
            F.round(
                F.sum(F.when(F.col("rn") <= 8, F.col("rev")))
                .cast("double")
                / F.first("total_rev"),
                6,
            ).alias("cr8"),
            F.round(
                F.sum("rev").cast("double") / F.first("total_rev"), 6
            ).alias("cr20"),
        )
        .select(
            "n_customers",
            F.round("total_rev", 2).alias("total_rev"),
            "cr4",
            "cr8",
            "cr20",
        )
    )


@query(
    "q_orders_yoy",
    # Month keys are pure integer calendar arithmetic; monthly revenue
    # is an exact DECIMAL sum; YoY growth is one IEEE division of two
    # exact-DECIMAL-derived doubles per month row.
    oracle="""
WITH m AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS mk,
         CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6))
           AS rev
  FROM orders GROUP BY 1
),
j AS (
  SELECT c.mk, c.rev, p.rev AS rev_prior
  FROM m c LEFT JOIN m p ON p.mk = c.mk - 12
)
SELECT CAST(mk // 12 AS BIGINT) AS yr,
       CAST(mk % 12 + 1 AS BIGINT) AS mon,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       round(CASE WHEN rev_prior IS NOT NULL
                  THEN CAST(rev AS DOUBLE) / CAST(rev_prior AS DOUBLE) - 1
             END, 6) AS yoy_growth
FROM j ORDER BY mk
""",
)
def q_orders_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year growth — the most-asked BI
    question over any order fact, written the scale-safe way: the YoY
    comparison is an integer month-key equi self-join on the BOUNDED
    monthly frame (mk vs mk − 12), never a 12-row lag window over raw
    orders and never a date-string comparison (month keys are
    year·12 + month, so December→January is ordinary integer
    arithmetic). Months with no prior-year counterpart publish NULL
    growth, not a dropped row.

    Scale shape: one month-keyed map-combinable DECIMAL reduce (the
    fact table's only pass), then a self-join and arithmetic on the
    |months|-bounded frame. The growth division is the only float.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("mk")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("decimal(28,6)")
        .alias("rev")
    ).localCheckpoint(eager=False)  # bounded; feeds both join sides
    # No broadcast hint here on purpose: both sides alias the SAME
    # localCheckpointed frame, and in a self-join Spark resolves a
    # hint by plan identity — it attaches to the preserved (left)
    # side of the left-outer join and is DROPPED with a
    # HintErrorLogger warning (r9 verdict #3). The frame is
    # |months|-bounded, so the stats-based planner broadcasts it
    # unhinted; tools/audit_hints.py gates the registry on zero
    # dropped hints.
    c = m.alias("c")
    p = m.alias("p")
    j = c.join(
        p, F.col("p.mk") == F.col("c.mk") - 12, "left"
    ).select(
        F.col("c.mk").alias("mk"),
        F.col("c.rev").alias("rev"),
        F.col("p.rev").alias("rev_prior"),
    )
    return (
        j.select(
            F.expr("mk div 12").cast("long").alias("yr"),
            (F.col("mk") % 12 + 1).cast("long").alias("mon"),
            F.round(F.col("rev").cast("double"), 2).alias("revenue"),
            F.round(
                F.when(
                    F.col("rev_prior").isNotNull(),
                    F.col("rev").cast("double")
                    / F.col("rev_prior").cast("double")
                    - 1,
                ),
                6,
            ).alias("yoy_growth"),
        )
        .orderBy("yr", "mon")
    )


@query(
    "q_orders_basket_profile",
    # Lines-per-order counts are exact integers; the dispersion index
    # comes from exact BIGINT power sums; the histogram buckets are
    # integer comparisons; one division per published float.
    oracle="""
WITH per AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(n_lines) AS BIGINT) AS s1,
         CAST(sum(n_lines * n_lines) AS BIGINT) AS s2,
         CAST(max(n_lines) AS BIGINT) AS max_lines,
         CAST(count(*) FILTER (n_lines = 1) AS BIGINT) AS n_single,
         CAST(count(*) FILTER (n_lines >= 5) AS BIGINT) AS n_big
  FROM per
)
SELECT n_orders, max_lines,
       round(CAST(s1 AS DOUBLE) / n_orders, 6) AS mean_lines,
       round(((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_orders)
              / (n_orders - 1))
             / (CAST(s1 AS DOUBLE) / n_orders), 6) AS dispersion_index,
       round(n_single * 1.0 / n_orders, 6) AS single_line_share,
       round(n_big * 1.0 / n_orders, 6) AS big_basket_share
FROM s WHERE n_orders > 1 AND s1 > 0
""",
)
def q_orders_basket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size profile of the order fact: lines-per-order mean,
    max, variance-to-mean dispersion index, and the single-line /
    big-basket shares — the shape parameter behind capacity and
    pricing models that assume "an order is ~N lines" (dispersion ≫ 1
    says baskets are NOT Poisson-ish: a few huge baskets drive the
    tails, which is also exactly the skew q_copurchase's basket cap
    and q_join_explosion_audit price). One table answers "what does a
    typical order look like and how wrong is typical".

    Scale shape: one order-keyed map-combinable count, exact BIGINT
    power sums over the |orders| frame, one closed-form row; three
    divisions are the only floats.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    s = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("n_lines").cast("long").alias("s1"),
        F.sum(F.col("n_lines") * F.col("n_lines")).cast("long").alias("s2"),
        F.max("n_lines").cast("long").alias("max_lines"),
        F.sum(F.when(F.col("n_lines") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_single"),
        F.sum(F.when(F.col("n_lines") >= 5, 1).otherwise(0))
        .cast("long")
        .alias("n_big"),
    )
    mean = F.col("s1").cast("double") / F.col("n_orders")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_orders")
    ) / (F.col("n_orders") - 1)
    return (
        s.filter((F.col("n_orders") > 1) & (F.col("s1") > 0))
        .select(
            "n_orders",
            "max_lines",
            F.round(mean, 6).alias("mean_lines"),
            F.round(var / mean, 6).alias("dispersion_index"),
            F.round(
                F.col("n_single") * 1.0 / F.col("n_orders"), 6
            ).alias("single_line_share"),
            F.round(F.col("n_big") * 1.0 / F.col("n_orders"), 6).alias(
                "big_basket_share"
            ),
        )
    )


_DUP_TOL_CENTS = 50_000    # |amount diff| <= $500 (TPC-H price scale)
_DUP_BAND_CENTS = 100_000  # blocking band width (> tolerance => +-1 probe)
_DUP_WINDOW_DAYS = 7


@query(
    "q_orders_dup_payments",
    # The oracle is the UNBLOCKED self-join with identical exact
    # filters — legal because the +-1 band probe is COMPLETE for the
    # tolerance (band width 100000 > tol 50000, so any qualifying pair
    # differs by at most one band). Cents are exact BIGINTs.
    oracle=f"""
WITH o AS (
  SELECT o_orderkey AS k, o_custkey AS c,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS d
  FROM orders
)
SELECT a.c AS o_custkey, a.k AS key_a, b.k AS key_b,
       abs(a.d - b.d) AS day_gap,
       abs(a.cents - b.cents) AS cents_diff,
       round(a.cents / 100.0, 2) AS amount_a,
       round(b.cents / 100.0, 2) AS amount_b
FROM o a JOIN o b
  ON a.c = b.c AND a.k < b.k
WHERE abs(a.d - b.d) <= {_DUP_WINDOW_DAYS}
  AND abs(a.cents - b.cents) <= {_DUP_TOL_CENTS}
ORDER BY o_custkey, key_a, key_b
""",
)
def q_orders_dup_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: order pairs from the SAME customer,
    within $500 of each other and within 7 days — the accounts-payable
    control every finance team runs (double-submitted invoices, retry
    storms double-charging, copy-paste orders). Published pair-level
    with the gap and amount delta so the reviewer can clear or claw
    back each hit.

    Scale shape: the forbidden plan here is the per-customer all-pairs
    self-join (a hot customer with 10^5 orders = 10^10 pairs). Instead
    each order blocks on (customer, amount-band) with the left side
    probing the +-1 neighbor bands — a plain EQUI join whose
    completeness is arithmetic (band width 2x the
    tolerance), so the exact filters run on candidate pairs only and a
    pair is found exactly once (each order owns one band). Hot
    (customer, band) blocks are the residual risk and carry the
    q_join_explosion_audit pre-flight at 100 TB; day is NOT in the
    block key because 7-day windows straddle any day bucket — the date
    filter stays a cheap post-predicate. Money handled in exact cents.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .alias("d"),
    )
    band = (F.col("cents") / _DUP_BAND_CENTS).cast("long")
    a = (
        o.withColumn(
            "pband",
            F.explode(F.array(band - 1, band, band + 1)),
        )
        .alias("a")
    )
    b = o.withColumn("band", band).alias("b")
    pairs = a.join(
        b,
        (F.col("a.c") == F.col("b.c"))
        & (F.col("a.pband") == F.col("b.band"))
        & (F.col("a.k") < F.col("b.k")),
    ).filter(
        (F.abs(F.col("a.d") - F.col("b.d")) <= _DUP_WINDOW_DAYS)
        & (F.abs(F.col("a.cents") - F.col("b.cents")) <= _DUP_TOL_CENTS)
    )
    return pairs.select(
        F.col("a.c").alias("o_custkey"),
        F.col("a.k").alias("key_a"),
        F.col("b.k").alias("key_b"),
        F.abs(F.col("a.d") - F.col("b.d")).cast("long").alias("day_gap"),
        F.abs(F.col("a.cents") - F.col("b.cents"))
        .cast("long")
        .alias("cents_diff"),
        F.round(F.col("a.cents") / 100.0, 2).alias("amount_a"),
        F.round(F.col("b.cents") / 100.0, 2).alias("amount_b"),
    ).orderBy("o_custkey", "key_a", "key_b")
