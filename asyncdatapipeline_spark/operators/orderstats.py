"""Exact distributed order statistics + resampling inference (round 8).

The round-8 family extends the ``dist_cumsum`` doctrine (operators/_util)
from rank STATISTICS (spearman/mannwhitney/ks, round 7) and rank WINDOWS
(the q_rfm gate, round 8) to order-statistic AGGREGATES: exact global /
grouped percentiles and medians with no sort-based aggregation buffer and
no single-partition window anywhere — the frame that crosses the wire is
always the DISTINCT-VALUE count frame (map-side combinable), and the
selection happens by comparing cumulative counts against integer ranks.

Contrast with the existing quantile surface:

- q_agg_quantile / q_agg_percentile_disc: Spark's native percentile
  aggregates — per-GROUP sort buffers, ideal while every group is
  modest; a GLOBAL percentile funnels 100 TB through one buffer.
- q_agg_approx_quantile / q_agg_kll: mergeable sketches — the
  approximate scale path.
- THIS family: the exact scale path (distinct-value reduce →
  dist_cumsum → integer-rank crossing), the only form that is
  simultaneously exact, global, and shuffle-bounded.

Also here: permutation inference (md5-derived, retry-stable — the
q_split_hash doctrine applied to resampling) and a count-min sketch with
its exact verification twin (the q_agg_hll contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

from ._util import (
    DEC,
    bounded_part,
    dist_cumsum,
    exact_pct_values,
    spark_ntile,
)


def _rank_at(p_pct: int, n):
    """ceil(p% · n) in exact integer arithmetic (both engines:
    (n·p + 99) DIV 100)."""
    return F.expr(f"CAST(({n} * {p_pct} + 99) DIV 100 AS BIGINT)")


@query(
    "q_agg_percentile_global",
    # The oracle replicates the distinct-value/cumulative-rank
    # construction (NOT quantile_disc, whose index convention is the
    # library's choice): value at percentile p = smallest v whose
    # cumulative count >= ceil(p·n/100), all-integer rank arithmetic,
    # and the result is a SELECTED data value — no float math at all.
    oracle="""
WITH g AS (
  SELECT o_totalprice AS v, count(*) AS cnt FROM orders GROUP BY 1
),
c AS (
  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM g
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
SELECT max(n.n) AS n_rows,
       min(CASE WHEN cum >= (n.n * 25 + 99) // 100 THEN v END) AS p25,
       min(CASE WHEN cum >= (n.n * 50 + 99) // 100 THEN v END) AS p50,
       min(CASE WHEN cum >= (n.n * 90 + 99) // 100 THEN v END) AS p90,
       min(CASE WHEN cum >= (n.n * 99 + 99) // 100 THEN v END) AS p99,
       min(v) AS vmin,
       max(v) AS vmax
FROM c CROSS JOIN n
""",
)
def q_agg_percentile_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global discrete percentiles (p25/p50/p90/p99) of the order
    totals — the scale form of a global ``percentile_disc``: Spark's
    native percentile aggregate buffers every row of the (single,
    global) group in one sort-based aggregation buffer, which at 100 TB
    is a driver-sized wall. Each percentile is the first value whose
    cumulative count clears the integer rank ceil(p·n/100), selected
    via the shared approx-bracket + exact local-refine device
    (``_util.exact_pct_values``, r12 — two bounded passes since the
    below-count fusion, no data-sized distinct-value spine: o_totalprice is money, so the
    former ``dist_cumsum`` spine was ~|orders| distinct values
    shuffled and checkpointed to read four crossings). Exact at any
    scale, mergeable at every step; q_agg_approx_quantile remains the
    cheaper sketch when ±ε is acceptable. (q_agg_quantile_ci keeps the
    spine form: its CI ranks are n-DEPENDENT fractions — n/2 ±
    0.98·√n — which a fixed-fraction sketch bracket cannot safely
    cover at small n.)
    """
    o = load_table(spark, sf_dir, "orders")
    # r12: the shared approx-bracket + exact local-refine device
    # (_util.exact_pct_values) replaces the distinct-value dist_cumsum
    # spine — o_totalprice is money, so that spine was ~|orders|
    # distinct values shuffled and checkpointed to read four
    # crossings. Selected values and integer ranks are identical; the
    # oracle keeps the spine construction. vmin/vmax/n ride the
    # device's first pass as extra aggregates — still no pass over the
    # fact table beyond the device's two.
    v = F.col("o_totalprice")
    sel = exact_pct_values(
        o,
        [("p25", v, 25), ("p50", v, 50), ("p90", v, 90), ("p99", v, 99)],
        extra=[F.min(v).alias("vmin"), F.max(v).alias("vmax")],
    )
    return sel.select(
        F.col("n").alias("n_rows"),
        "p25",
        "p50",
        "p90",
        "p99",
        "vmin",
        "vmax",
    )


@query(
    "q_agg_median_exact",
    # Lower/upper median are SELECTED values at integer ranks
    # ceil(n/2) and floor(n/2)+1 on the per-group cumulative counts;
    # the midpoint is one IEEE add+halve of two exact values.
    oracle="""
WITH g AS (
  SELECT l_returnflag AS grp, l_quantity AS v, count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT grp, v,
         CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cum
  FROM g
),
n AS (
  SELECT l_returnflag AS grp, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
)
SELECT c.grp AS l_returnflag, max(n.n) AS n,
       min(CASE WHEN cum >= (n.n + 1) // 2 THEN v END) AS median_lo,
       min(CASE WHEN cum >= n.n // 2 + 1 THEN v END) AS median_hi,
       (min(CASE WHEN cum >= (n.n + 1) // 2 THEN v END)
        + min(CASE WHEN cum >= n.n // 2 + 1 THEN v END)) / 2 AS median
FROM c JOIN n USING (grp)
GROUP BY c.grp
ORDER BY l_returnflag
""",
)
def q_agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median of line quantities, scale-safe: the
    grouped twin of q_agg_percentile_global. q_agg_quantile's native
    percentile buffers every group row in one aggregation buffer —
    fine for bounded groups, a wall when one group holds 10¹¹ rows.
    Here each group reduces to distinct-value counts,
    ``dist_cumsum(part_cols=[group])`` builds per-group cumulative
    counts (equi-depth buckets shared across groups, per-group offset
    join — no group ever occupies one partition), and the lower/upper
    medians are rank selections; the interpolated median is their
    midpoint, a single identical IEEE step. Groups here are the
    bounded returnflag vocabulary; VALUES within each group are the
    unbounded axis the construction distributes over.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").alias("v"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    c = dist_cumsum(g, "v", ["cnt"], part_cols=["grp"]).select(
        "grp", "v", F.col("cum_cnt").cast("long").alias("cum")
    )
    n = F.broadcast(
        li.groupBy(F.col("l_returnflag").alias("grp")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    lo = F.min(
        F.when(F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("v"))
    )
    hi = F.min(
        F.when(F.col("cum") >= F.expr("n DIV 2 + 1"), F.col("v"))
    )
    return (
        c.join(n, "grp")
        .groupBy(F.col("grp").alias("l_returnflag"))
        .agg(
            F.max("n").alias("n"),
            lo.alias("median_lo"),
            hi.alias("median_hi"),
            ((lo + hi) / 2).alias("median"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_anomaly_iqr",
    # Q1/Q3 are exact rank selections (the percentile_global device);
    # the 1.5·IQR fences are one IEEE chain on two exact data values,
    # identical in both engines; per-type outlier counts are integers.
    oracle="""
WITH g AS (
  SELECT value AS v, count(*) AS cnt FROM events GROUP BY 1
),
c AS (
  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM g
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
q AS (
  SELECT min(CASE WHEN cum >= (n.n * 25 + 99) // 100 THEN v END) AS q1,
         min(CASE WHEN cum >= (n.n * 75 + 99) // 100 THEN v END) AS q3
  FROM c CROSS JOIN n
),
f AS (
  SELECT q1, q3, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
  FROM q
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low,
       CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high,
       round(CAST(sum(CASE WHEN value < lo OR value > hi
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS outlier_share
FROM events CROSS JOIN f
GROUP BY event_type
ORDER BY event_type
""",
)
def q_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (1.5·IQR) outlier audit per event type — the
    box-plot rule beside q_anomaly's z-score and q_anomaly_mad's
    robust-median detectors, with its quartiles computed by the EXACT
    distributed device instead of a global sort: Q1/Q3 come from
    distinct-value counts + ``dist_cumsum`` rank crossings (one
    value-keyed reduce, no sort buffer), the fences broadcast back as
    one row, and the flagging pass is map-only. The classic detector
    teams reach for first BECAUSE it needs no distribution assumption;
    at 100 TB this form keeps it one reduce + one scan.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    c = dist_cumsum(g, "v", ["cnt"]).select(
        "v", F.col("cum_cnt").cast("long").alias("cum")
    )
    n = F.broadcast(e.agg(F.count(F.lit(1)).cast("long").alias("n")))
    q = c.crossJoin(n).agg(
        F.min(
            F.when(F.col("cum") >= _rank_at(25, "n"), F.col("v"))
        ).alias("q1"),
        F.min(
            F.when(F.col("cum") >= _rank_at(75, "n"), F.col("v"))
        ).alias("q3"),
    )
    f = F.broadcast(
        q.select(
            (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
            (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
        )
    )
    out = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        e.crossJoin(f)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("value") < F.col("lo")).cast("int"))
            .cast("long")
            .alias("n_low"),
            F.sum((F.col("value") > F.col("hi")).cast("int"))
            .cast("long")
            .alias("n_high"),
            F.round(
                F.sum(out.cast("int")).cast("double") / F.count(F.lit(1)), 6
            ).alias("outlier_share"),
        )
        .orderBy("event_type")
    )


@query(
    "q_feature_scale",
    # z-score via exact decimal power sums (the q_agg_stats doctrine),
    # min-max via two exact selections, percent_rank via the
    # distinct-value cumulative device: rank_min(v) = cum(v) − cnt(v)
    # + 1, pct = (rank_min − 1)/(n − 1) — the same (rank−1)/(n−1)
    # definition percent_rank() implements, so the oracle can use the
    # builtin window while Spark never runs a global window at all.
    oracle="""
WITH ev AS (
  SELECT event_id, value FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         min(value) AS vmin, max(value) AS vmax
  FROM ev
),
pr AS (
  SELECT event_id, value,
         percent_rank() OVER (ORDER BY value) AS pct
  FROM ev
)
SELECT pr.event_id, pr.value,
       CASE WHEN n > 1 AND (sxx - sx*sx/n) / (n - 1) > 0
            THEN round((pr.value - sx/n)
                       / sqrt((sxx - sx*sx/n) / (n - 1)), 6) END AS z,
       CASE WHEN vmax > vmin
            THEN round((pr.value - vmin) / (vmax - vmin), 6) END AS minmax,
       CASE WHEN n > 1 THEN round(pct, 6) END AS pct_rank
FROM pr CROSS JOIN s
ORDER BY pr.event_id
""",
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row feature scaling matrix (z-score, min-max, percent-rank)
    over the event values — the ML-preprocessing staple, built so that
    NO global window ever runs: moments and extrema are one broadcast
    aggregate (decimal power sums, the q_agg_stats discipline);
    percent-rank comes from the distinct-value ``dist_cumsum`` frame
    joined back on the value key (rank_min = exclusive cumulative
    count + 1 — exactly SQL's rank()), one value-keyed shuffle. The
    oracle uses the builtin percent_rank() window to prove the
    construction IS that function. Degenerate guards (n ≤ 1, zero
    variance, constant column) emit NULL, not a crash — empty/constant
    partitions are routine at 100 TB.

    NULL values are EXCLUDED up front in BOTH engine texts (ADVICE
    r8): a NULL feature has no defined z/minmax/rank, and filtering
    explicitly beats the silent cross-engine divergence of an equality
    join dropping NULLs on one side while percent_rank() sorts them
    first on the other.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    g = e.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    c = dist_cumsum(g, "v", ["cnt"]).select(
        "v",
        (F.col("cum_cnt") - F.col("cnt")).cast("long").alias("below"),
    )
    s = F.broadcast(
        e.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sx"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var = (sxx - sx * sx / n) / (n - 1)
    return (
        e.join(c, e.value == c.v)
        .crossJoin(s)
        .select(
            "event_id",
            "value",
            F.when(
                (n > 1) & (var > 0),
                F.round((F.col("value") - sx / n) / F.sqrt(var), 6),
            ).alias("z"),
            F.when(
                F.col("vmax") > F.col("vmin"),
                F.round(
                    (F.col("value") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin")),
                    6,
                ),
            ).alias("minmax"),
            F.when(
                n > 1,
                F.round(F.col("below").cast("double") / (n - 1), 6),
            ).alias("pct_rank"),
        )
        .orderBy("event_id")
    )


_N_PERMS = 199


@query(
    "q_agg_permutation_test",
    # Permutation labels are md5-derived (user_id:perm byte parity) so
    # both engines draw the IDENTICAL "random" reassignments — the
    # q_split_hash doctrine applied to resampling. All group sums are
    # exact integers; each mean diff is one double division; the
    # p-value is the add-one permutation estimate.
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
         CAST(sum(CASE WHEN arm = 0 THEN m ELSE 0 END) AS BIGINT) AS sa,
         CAST(sum(CASE WHEN arm = 1 THEN m ELSE 0 END) AS BIGINT) AS sb
  FROM u
),
p AS (
  SELECT p.p,
         ('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':'
                             || CAST(p.p AS VARCHAR)), 1, 2))::UINTEGER % 2
           AS parm,
         u.m
  FROM u CROSS JOIN (SELECT unnest(generate_series(1, {_N_PERMS})) AS p) p
),
pd AS (
  SELECT p,
         sum(CASE WHEN parm = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN parm = 1 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN parm = 0 THEN m ELSE 0 END) AS s0,
         sum(CASE WHEN parm = 1 THEN m ELSE 0 END) AS s1
  FROM p GROUP BY p
),
t AS (
  SELECT obs.na, obs.nb,
    CASE WHEN obs.na > 0 AND obs.nb > 0
         THEN CAST(obs.sa AS DOUBLE) / obs.na
              - CAST(obs.sb AS DOUBLE) / obs.nb END AS t_obs,
    CAST(sum(CASE WHEN pd.c0 > 0 AND pd.c1 > 0 AND obs.na > 0
                   AND obs.nb > 0
                   AND abs(CAST(pd.s0 AS DOUBLE) / pd.c0
                           - CAST(pd.s1 AS DOUBLE) / pd.c1)
                       >= abs(CAST(obs.sa AS DOUBLE) / obs.na
                              - CAST(obs.sb AS DOUBLE) / obs.nb)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
  FROM pd CROSS JOIN obs
  GROUP BY obs.na, obs.nb, obs.sa, obs.sb
)
SELECT na, nb, round(t_obs, 6) AS t_obs, {_N_PERMS} AS n_perm, n_ge,
       round(CAST(1 + n_ge AS DOUBLE) / CAST(1 + {_N_PERMS} AS DOUBLE), 6)
         AS p_value
FROM t
""",
)
def q_agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the A/B difference in per-user purchase
    counts — the assumption-free companion to q_agg_ttest /
    q_agg_mannwhitney: instead of a t or rank reference distribution,
    the null is built by re-randomizing the arm labels 199 times and
    asking how often the permuted |mean diff| reaches the observed one
    (add-one estimator, so p ≥ 1/200 — never a claimed zero). Labels
    are md5(user:perm) byte parity: deterministic, retry-stable, and
    identical across engines — "random" enough for exchangeability,
    reproducible enough to oracle bit-for-bit.

    Scale shape: events reduce to ONE row per user; the ×199 fan-out
    happens map-side and collapses immediately to per-(perm, arm)
    integer partial sums — 2·199 rows per task cross the wire, never
    users×perms. The observed and permuted mean diffs are
    single double divisions on exact integer sums; degenerate arms
    (empty side) yield NULL t_obs, not a division crash.
    """
    e = load_table(spark, sf_dir, "events")

    def parity(expr):
        return (
            F.conv(F.substring(F.md5(expr.cast("binary")), 1, 2), 16, 10)
            .cast("int")
            % 2
        )

    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("m")
    ).select(
        "user_id", "m", parity(F.col("user_id").cast("string")).alias("arm")
    )
    obs = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
        F.sum(F.when(F.col("arm") == 0, F.col("m")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("arm") == 1, F.col("m")).otherwise(0))
        .cast("long")
        .alias("sb"),
    )
    perms = u.select(
        "m",
        F.explode(F.sequence(F.lit(1), F.lit(_N_PERMS))).alias("p"),
        "user_id",
    ).select(
        "p",
        "m",
        parity(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit(":"),
                F.col("p").cast("string"),
            )
        ).alias("parm"),
    )
    pd_ = perms.groupBy("p").agg(
        F.sum(F.when(F.col("parm") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("parm") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("parm") == 0, F.col("m")).otherwise(0)).alias(
            "s0"
        ),
        F.sum(F.when(F.col("parm") == 1, F.col("m")).otherwise(0)).alias(
            "s1"
        ),
    )
    na, nb = F.col("na"), F.col("nb")
    t_obs = F.when(
        (na > 0) & (nb > 0),
        F.col("sa").cast("double") / na - F.col("sb").cast("double") / nb,
    )
    t_perm_ge = F.when(
        (F.col("c0") > 0) & (F.col("c1") > 0) & (na > 0) & (nb > 0),
        (
            F.abs(
                F.col("s0").cast("double") / F.col("c0")
                - F.col("s1").cast("double") / F.col("c1")
            )
            >= F.abs(
                F.col("sa").cast("double") / na
                - F.col("sb").cast("double") / nb
            )
        ).cast("int"),
    ).otherwise(0)
    return (
        pd_.crossJoin(F.broadcast(obs))
        .agg(
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
            F.round(F.max(t_obs), 6).alias("t_obs"),
            F.lit(_N_PERMS).alias("n_perm"),
            F.sum(t_perm_ge).cast("long").alias("n_ge"),
            F.round(
                (1 + F.sum(t_perm_ge)).cast("double") / (1 + _N_PERMS), 6
            ).alias("p_value"),
        )
    )


_CM_DEPTH = 3
_CM_WIDTH = 64
_CM_TOPK = 5


@query(
    "q_agg_countmin",
    # The sketch is md5-derived (depth:key → 8 hex chars → cell), so
    # BOTH engines build the identical grid and the estimates compare
    # exactly — plus the point of count-min as booleans: the estimate
    # never undershoots the truth.
    oracle=f"""
WITH grid AS (
  SELECT d.d,
         ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':'
                             || CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT
           % {_CM_WIDTH} AS cell,
         CAST(count(*) AS BIGINT) AS c
  FROM events
  CROSS JOIN (SELECT unnest(generate_series(0, {_CM_DEPTH - 1})) AS d) d
  GROUP BY 1, 2
),
tops AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
  FROM events GROUP BY user_id
  ORDER BY true_cnt DESC, user_id LIMIT {_CM_TOPK}
),
probe AS (
  SELECT t.user_id, t.true_cnt, d.d,
         ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':'
                             || CAST(t.user_id AS VARCHAR)), 1, 8))::UBIGINT
           % {_CM_WIDTH} AS cell
  FROM tops t
  CROSS JOIN (SELECT unnest(generate_series(0, {_CM_DEPTH - 1})) AS d) d
)
SELECT p.user_id, max(p.true_cnt) AS true_cnt,
       CAST(min(g.c) AS BIGINT) AS cm_est,
       min(g.c) >= max(p.true_cnt) AS never_undercounts
FROM probe p JOIN grid g ON g.d = p.d AND g.cell = p.cell
GROUP BY p.user_id
ORDER BY true_cnt DESC, user_id
""",
)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (3 depth rows × 64 cells, md5 hashes) over
    user event frequencies, verified against exact counts for the
    top-5 users (the q_agg_hll contract: the sketch answer ships with
    its exact twin at test scale; production keeps only the sketch).
    The point of count-min beside q_agg_heavy's exact heavy-hitter
    pass: the GRID is the aggregate — 3·64 integer cells, mergeable by
    addition, constant size at any cardinality — so it survives
    streaming and shard-merge settings where per-key state can't. The
    estimate is the min over depth rows; count-min's one-sided error
    (never BELOW the true count) is emitted as a checked boolean.

    Scale shape: one ×3 map-side fan-out collapsing to the grid
    (map-combinable — 192 partials per task); the probe side is the
    exact top-5 (TakeOrderedAndProject) joined against the broadcast
    grid.
    """
    e = load_table(spark, sf_dir, "events")

    def cell(d_col, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            d_col.cast("string"),
                            F.lit(":"),
                            key_col.cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CM_WIDTH
        )

    grid = (
        e.select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(_CM_DEPTH - 1))
            ).alias("d"),
        )
        .groupBy("d", cell(F.col("d"), F.col("user_id")).alias("cell"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tops = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "user_id")
        .limit(_CM_TOPK)
    )
    probe = tops.select(
        "user_id",
        "true_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(_CM_DEPTH - 1))).alias("d"),
    ).select(
        "user_id",
        "true_cnt",
        "d",
        cell(F.col("d"), F.col("user_id")).alias("cell"),
    )
    return (
        probe.join(F.broadcast(grid), ["d", "cell"])
        .groupBy("user_id")
        .agg(
            F.max("true_cnt").alias("true_cnt"),
            F.min("c").cast("long").alias("cm_est"),
            (F.min("c") >= F.max("true_cnt")).alias("never_undercounts"),
        )
        .orderBy(F.col("true_cnt").desc(), "user_id")
    )


_NV_FRACTILE_PCT = 80  # critical fractile cu/(cu+co) = 0.8


@query(
    "q_orders_newsvendor",
    # Daily demand per priority reduces to a bounded (priority, day)
    # grid; q* is a rank selection at ceil(0.8·n_days) on the demand
    # distribution — a SELECTED integer, zero float risk; mean demand
    # is an exact integer ratio.
    oracle=f"""
WITH d AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS demand
  FROM orders GROUP BY 1, 2
),
g AS (
  SELECT grp, demand, count(*) AS cnt FROM d GROUP BY 1, 2
),
c AS (
  SELECT grp, demand,
         CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY demand)
              AS BIGINT) AS cum
  FROM g
),
n AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(demand) AS BIGINT) AS total
  FROM d GROUP BY grp
)
SELECT c.grp AS o_orderpriority, max(n.n_days) AS n_days,
       min(CASE WHEN cum >= (n.n_days * {_NV_FRACTILE_PCT} + 99) // 100
                THEN demand END) AS q_star,
       round(CAST(max(n.total) AS DOUBLE) / max(n.n_days), 6)
         AS mean_demand,
       round(min(CASE WHEN cum >= (n.n_days * {_NV_FRACTILE_PCT} + 99)
                           // 100 THEN demand END)
             - CAST(max(n.total) AS DOUBLE) / max(n.n_days), 6)
         AS safety_stock
FROM c JOIN n USING (grp)
GROUP BY c.grp
ORDER BY o_orderpriority
""",
)
def q_orders_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking level per priority class: the order-up-to
    quantity q* is the critical fractile (cu/(cu+co) = 0.8 here) of
    the EMPIRICAL daily-demand distribution — the inventory answer
    q_agg_quantile's percentiles exist to feed, closed over into the
    actual decision: q*, mean demand, and the implied safety stock
    (q* − mean). Supply-chain teams run exactly this per SKU×echelon;
    the empirical-quantile form needs no demand-distribution
    assumption, which is why it wins at scale over fitted normals.

    Scale shape: orders reduce to the (priority, day) demand grid
    (map-combinable; horizon-bounded days × bounded priorities), the
    fractile is a rank selection on per-group cumulative demand
    counts via ``dist_cumsum(part_cols=[grp])`` — the exact grouped
    quantile device, no sort buffer — and the report is 5 rows. Swap
    the group key to (part, warehouse) and the same plan serves the
    real SKU-level run: the device never materializes more than the
    distinct-demand frame.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("demand"))
    g = d.groupBy("grp", "demand").agg(F.count(F.lit(1)).alias("cnt"))
    c = dist_cumsum(g, "demand", ["cnt"], part_cols=["grp"]).select(
        "grp", "demand", F.col("cum_cnt").cast("long").alias("cum")
    )
    n = F.broadcast(
        d.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("demand").cast("long").alias("total"),
        )
    )
    q_star = F.min(
        F.when(
            F.col("cum") >= _rank_at(_NV_FRACTILE_PCT, "n_days"),
            F.col("demand"),
        )
    )
    mean_d = F.max("total").cast("double") / F.max("n_days")
    return (
        c.join(n, "grp")
        .groupBy(F.col("grp").alias("o_orderpriority"))
        .agg(
            F.max("n_days").alias("n_days"),
            q_star.alias("q_star"),
            F.round(mean_d, 6).alias("mean_demand"),
            F.round(q_star - mean_d, 6).alias("safety_stock"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_agg_trimmed_mean",
    # Trim bounds are exact rank selections (5th/95th); membership is
    # a value comparison against two selected data values; the kept
    # mean goes through the decimal-armor sum.
    oracle="""
WITH g AS (
  SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem GROUP BY 1
),
c AS (
  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM g
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
b AS (
  SELECT min(CASE WHEN cum >= (n.n * 5 + 99) // 100 THEN v END) AS lo,
         min(CASE WHEN cum >= (n.n * 95 + 99) // 100 THEN v END) AS hi
  FROM c CROSS JOIN n
)
SELECT max(n.n) AS n,
       CAST(sum(CASE WHEN l_extendedprice BETWEEN b.lo AND b.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       max(b.lo) AS lo, max(b.hi) AS hi,
       round(CAST(SUM(CASE WHEN l_extendedprice BETWEEN b.lo AND b.hi
                           THEN CAST(l_extendedprice AS DECIMAL(28,6))
                      END) AS DOUBLE)
             / sum(CASE WHEN l_extendedprice BETWEEN b.lo AND b.hi
                        THEN 1 ELSE 0 END), 6)
         AS trimmed_mean,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
             / max(n.n), 6) AS raw_mean
FROM lineitem CROSS JOIN b CROSS JOIN n
""",
)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed global mean of extended price — the robust location
    estimate that DROPS the tails instead of clamping them
    (q_winsorize's clip keeps outlier rows at the cap; trimming
    excludes them — the estimator of choice when the tails are
    suspected to be a different population, e.g. bot traffic or
    pricing errors). Bounds are the exact global 5th/95th percentiles
    from the distinct-value ``dist_cumsum`` device (q_agg_percentile_global's
    construction), so unlike the classic sort-and-slice formulation
    nothing is ever sorted on one partition; the kept-row mean is a
    decimal-armored sum. raw_mean ships alongside — the gap between
    the two IS the outlier influence measurement.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    c = dist_cumsum(g, "v", ["cnt"]).select(
        "v", F.col("cum_cnt").cast("long").alias("cum")
    )
    n = F.broadcast(li.agg(F.count(F.lit(1)).cast("long").alias("n")))
    b = F.broadcast(
        c.crossJoin(n).agg(
            F.min(
                F.when(F.col("cum") >= _rank_at(5, "n"), F.col("v"))
            ).alias("lo"),
            F.min(
                F.when(F.col("cum") >= _rank_at(95, "n"), F.col("v"))
            ).alias("hi"),
        )
    )
    kept = F.col("l_extendedprice").between(F.col("lo"), F.col("hi"))
    return (
        li.crossJoin(b)
        .crossJoin(n)
        .agg(
            F.max("n").alias("n"),
            F.sum(kept.cast("int")).cast("long").alias("n_kept"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.round(
                F.sum(
                    F.when(
                        kept, F.col("l_extendedprice").cast(DEC)
                    )
                ).cast("double")
                / F.sum(kept.cast("int")),
                6,
            ).alias("trimmed_mean"),
            F.round(
                F.sum(F.col("l_extendedprice").cast(DEC)).cast("double")
                / F.max("n"),
                6,
            ).alias("raw_mean"),
        )
    )


_DP_EPSILON = 1.0


@query(
    "q_agg_dp_counts",
    # The Laplace draw is md5-seeded (13 hex chars = 52 mantissa bits,
    # so u = h/2^52 is EXACT in double) and the single transcendental
    # goes through the 9dp ln-contract — both engines produce the
    # identical noised release.
    oracle=f"""
WITH g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS true_cnt FROM events
  GROUP BY event_type
),
u AS (
  SELECT event_type, true_cnt,
         ('0x' || substr(md5(event_type), 1, 13))::UBIGINT
           / 4503599627370496.0 AS u
  FROM g
),
n AS (
  SELECT event_type, true_cnt,
         CASE WHEN u >= 0.5 THEN -1.0 ELSE 1.0 END
           * CAST(round(ln(greatest(1 - 2 * abs(u - 0.5),
                                    power(2.0, -52))), 9) AS DOUBLE)
           / {_DP_EPSILON} AS noise
  FROM u
)
SELECT event_type, true_cnt,
       {_DP_EPSILON} AS epsilon,
       round(noise, 6) AS noise,
       round(true_cnt + noise, 6) AS dp_count
FROM n ORDER BY event_type
""",
)
def q_agg_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism, ε=1,
    sensitivity 1) over the per-type event counts — the publishing
    step a data-sharing pipeline runs before counts leave the
    boundary. DETERMINISTIC-SEED SIMULATION, stated plainly: the
    Laplace draw here is md5-seeded so the release is reproducible and
    cross-engine verifiable (the engine's testing contract); a real
    deployment swaps ONLY the uniform source for a CSPRNG — the
    sensitivity analysis, the inverse-CDF transform, and the plumbing
    are exactly what ships. true_cnt is emitted as the test-scale
    verification twin (the q_agg_hll contract); production publishes
    the dp_count column alone.

    Scale shape: one map-combinable count per type; the noise chain is
    per-GROUP scalar arithmetic (u = 52-bit md5 fraction — exact in a
    double — through the inverse Laplace CDF, the one ln() riding the
    engine's 9dp transcendental contract). Zero extra passes over the
    data versus the un-noised count.

    The CDF argument is clamped to ≥ 2⁻⁵² (ADVICE r8): a type whose
    md5 fraction lands exactly on u = 0 would otherwise hit ln(0) and
    be silently FILTERED from the release — and a missing category in
    a DP publication is itself a leak (it reveals the hash). The clamp
    caps |noise| at 52·ln2/ε ≈ 36/ε and guarantees every type is
    released, in both engine texts.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    u = (
        F.conv(F.substring(F.md5(F.col("event_type").cast("binary")), 1, 13), 16, 10)
        .cast("double")
        / F.lit(4503599627370496.0)
    )
    arg = F.greatest(1 - 2 * F.abs(u - 0.5), F.lit(2.0 ** -52))
    noise = (
        F.when(u >= 0.5, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.round(F.log(arg), 9)
        / _DP_EPSILON
    )
    return (
        g
        .select(
            "event_type",
            "true_cnt",
            F.lit(_DP_EPSILON).alias("epsilon"),
            F.round(noise, 6).alias("noise"),
            F.round(F.col("true_cnt") + noise, 6).alias("dp_count"),
        )
        .orderBy("event_type")
    )


@query(
    "q_agg_weighted_median",
    # The weighted median is a SELECTION at the half-total-weight
    # crossing of exact DECIMAL cumulative weights — no float
    # arithmetic until the final display rounding of the weight
    # totals; the crossing compare is cross-multiplied to stay exact.
    oracle="""
WITH g AS (
  SELECT l_returnflag AS grp, l_extendedprice AS v,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS wt
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT grp, v, wt,
         sum(wt) OVER (PARTITION BY grp ORDER BY v) AS cumw
  FROM g
),
t AS (SELECT grp, sum(wt) AS tw FROM g GROUP BY grp)
SELECT c.grp AS l_returnflag,
       round(CAST(max(t.tw) AS DOUBLE), 2) AS total_weight,
       min(CASE WHEN 2 * cumw >= t.tw THEN v END) AS weighted_median,
       min(CASE WHEN cumw * 20 >= t.tw THEN v END) AS weighted_p05,
       min(CASE WHEN cumw * 20 >= 19 * t.tw THEN v END) AS weighted_p95
FROM c JOIN t USING (grp)
GROUP BY c.grp
ORDER BY l_returnflag
""",
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-weighted median (and p05/p95) of unit revenue per
    returnflag — the weighted quantile every pricing/fairness readout
    needs: the unweighted median (q_agg_median_exact) answers "the
    typical LINE"; this answers "the typical UNIT SOLD", which is what
    a revenue-weighted SLA or a fair-price audit actually contracts
    on. The selected value is the smallest price whose cumulative
    quantity weight clears the fractile of total weight
    (cross-multiplied compares — 2·cumw ≥ tw — so the boundary row is
    decided in exact DECIMAL, never a float share).

    Scale shape: the fact table reduces to distinct (group, value)
    rows with DECIMAL weight sums (map-combinable), the cumulative
    weights run through ``dist_cumsum(part_cols=[group])``, and each
    quantile is one rank-crossing selection — the
    q_agg_percentile_global device generalized from counts to
    weights; no sort buffer, no single-partition window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("wt"))
    c = dist_cumsum(g, "v", ["wt"], part_cols=["grp"]).select(
        "grp", "v", F.col("cum_wt").alias("cumw")
    )
    t = F.broadcast(g.groupBy("grp").agg(F.sum("wt").alias("tw")))
    return (
        c.join(t, "grp")
        .groupBy(F.col("grp").alias("l_returnflag"))
        .agg(
            F.round(F.max("tw").cast("double"), 2).alias("total_weight"),
            F.min(
                F.when(2 * F.col("cumw") >= F.col("tw"), F.col("v"))
            ).alias("weighted_median"),
            F.min(
                F.when(F.col("cumw") * 20 >= F.col("tw"), F.col("v"))
            ).alias("weighted_p05"),
            F.min(
                F.when(
                    F.col("cumw") * 20 >= 19 * F.col("tw"), F.col("v")
                )
            ).alias("weighted_p95"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_wilcoxon_signed",
    # Halves via exact integer epoch midpoint; |d| midranks from the
    # distinct-value spine (doubled ranks stay BIGINT); W⁺, μ and the
    # tie-corrected variance are exact integers scaled by 2/48; z is
    # the one IEEE chain.
    oracle="""
WITH b AS (
  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
          + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid
  FROM events
),
u AS (
  SELECT user_id,
    CAST(sum(CASE WHEN event_type = 'purchase'
                   AND CAST(floor(epoch(ts)) AS BIGINT)
                       <= (SELECT mid FROM b) THEN 1 ELSE 0 END)
         AS BIGINT) AS m1,
    CAST(sum(CASE WHEN event_type = 'purchase'
                   AND CAST(floor(epoch(ts)) AS BIGINT)
                       > (SELECT mid FROM b) THEN 1 ELSE 0 END)
         AS BIGINT) AS m2
  FROM events GROUP BY user_id
),
d AS (
  SELECT m2 - m1 AS dd, abs(m2 - m1) AS ad FROM u WHERE m2 != m1
),
g AS (
  SELECT ad, CAST(count(*) AS BIGINT) AS tie,
         CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM d GROUP BY ad
),
c AS (
  SELECT ad, tie, pos,
         CAST(sum(tie) OVER (ORDER BY ad) AS BIGINT) AS cum
  FROM g
),
s AS (
  SELECT CAST(sum(tie) AS BIGINT) AS n,
         CAST(sum(pos * (2 * cum - tie + 1)) AS BIGINT) AS w2,
         CAST(sum(tie * (tie * tie - 1)) AS BIGINT) AS tie3
  FROM c
),
v AS (
  SELECT n, w2,
         2 * n * (n + 1) * (2 * n + 1) - tie3 AS var48
  FROM s
)
SELECT n AS n_pairs,
       round(CAST(w2 AS DOUBLE) / 2, 1) AS w_plus,
       CASE WHEN var48 > 0
            THEN round((w2 - CAST(n * (n + 1) AS DOUBLE) / 2)
                       / (2 * sqrt(var48 / 48.0)), 6) END AS z,
       CASE WHEN var48 > 0
            THEN abs((w2 - CAST(n * (n + 1) AS DOUBLE) / 2)
                     / (2 * sqrt(var48 / 48.0))) > 1.96
            ELSE false END AS significant,
       CASE WHEN var48 > 0 AND
                 (w2 - CAST(n * (n + 1) AS DOUBLE) / 2) > 0
            THEN 'increased'
            WHEN var48 > 0 AND
                 (w2 - CAST(n * (n + 1) AS DOUBLE) / 2) < 0
            THEN 'decreased'
            WHEN var48 > 0 THEN 'no_change' END AS direction
FROM v
""",
)
def q_agg_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user purchase counts
    (first half of the horizon vs second, the exact epoch-midpoint
    split) — the within-subject companion to q_agg_mannwhitney's
    unpaired U: each user is their own control, so cross-user
    variance cancels and the test sees the SHIFT (did the same users
    buy more later?). Zero differences drop (standard), |d| gets
    midranks (ties expected — counts are small integers), W⁺ is the
    positive-rank sum, and the tie-corrected normal approximation
    gives z. The paired design is what q_events_did approximates
    without panel data.

    Scale shape: one pass reduces events to per-user half-counts
    against the broadcast midpoint; differences group to the DISTINCT
    |d| spine (small-integer domain — tiny by construction) whose
    midranks ride ``dist_cumsum``; W⁺/μ/σ are exact integers (doubled
    ranks, ×48 variance) folded in one aggregate; z is one IEEE
    chain. No data-sized sort or window anywhere.
    """
    e = load_table(spark, sf_dir, "events")
    ep = F.floor(F.unix_timestamp("ts")).cast("long")
    b = F.broadcast(
        e.agg(F.floor((F.min(ep) + F.max(ep)) / 2).cast("long").alias("mid"))
    )
    pur = F.col("event_type") == "purchase"
    u = (
        e.crossJoin(b)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(pur & (ep <= F.col("mid")), 1).otherwise(0))
            .cast("long")
            .alias("m1"),
            F.sum(F.when(pur & (ep > F.col("mid")), 1).otherwise(0))
            .cast("long")
            .alias("m2"),
        )
    )
    d = u.filter(F.col("m2") != F.col("m1")).select(
        (F.col("m2") - F.col("m1")).alias("dd"),
        F.abs(F.col("m2") - F.col("m1")).alias("ad"),
    )
    g = d.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("tie"),
        F.sum((F.col("dd") > 0).cast("int")).cast("long").alias("pos"),
    )
    c = dist_cumsum(g, "ad", ["tie"]).select(
        "ad", "tie", "pos", F.col("cum_tie").cast("long").alias("cum")
    )
    s = c.agg(
        F.sum("tie").cast("long").alias("n"),
        F.sum(F.col("pos") * (2 * F.col("cum") - F.col("tie") + 1))
        .cast("long")
        .alias("w2"),
        F.sum(F.col("tie") * (F.col("tie") * F.col("tie") - 1))
        .cast("long")
        .alias("tie3"),
    )
    n, w2 = F.col("n"), F.col("w2")
    v = s.select(
        "n",
        "w2",
        (2 * n * (n + 1) * (2 * n + 1) - F.col("tie3")).alias("var48"),
    )
    num = w2 - (n * (n + 1)).cast("double") / 2
    z = num / (2 * F.sqrt(F.col("var48") / 48.0))
    ok = F.col("var48") > 0
    return v.select(
        F.col("n").alias("n_pairs"),
        F.round(w2.cast("double") / 2, 1).alias("w_plus"),
        F.when(ok, F.round(z, 6)).alias("z"),
        F.when(ok, F.abs(z) > 1.96).otherwise(F.lit(False)).alias(
            "significant"
        ),
        F.when(ok & (num > 0), "increased")
        .when(ok & (num < 0), "decreased")
        .when(ok, "no_change")
        .alias("direction"),
    )


_EOQ_ORDER_COST = 100.0  # S: fixed cost per replenishment order
_EOQ_HOLD_COST = 2.0     # H: holding cost per unit per horizon


@query(
    "q_orders_eoq",
    # D and n_days are exact integers; EOQ/cadence are one IEEE chain
    # on literal cost parameters — identical in both engines.
    oracle=f"""
WITH d AS (
  SELECT o_orderpriority AS grp,
         CAST(count(*) AS BIGINT) AS demand,
         CAST(count(DISTINCT CAST(floor(epoch(o_orderdate) / 86400)
                                  AS BIGINT)) AS BIGINT) AS n_days
  FROM orders GROUP BY 1
)
SELECT grp AS o_orderpriority, demand, n_days,
       round(sqrt(2 * CAST(demand AS DOUBLE) * {_EOQ_ORDER_COST}
                  / {_EOQ_HOLD_COST}), 6) AS eoq,
       round(CAST(demand AS DOUBLE)
             / sqrt(2 * CAST(demand AS DOUBLE) * {_EOQ_ORDER_COST}
                    / {_EOQ_HOLD_COST}), 6) AS n_replenishments,
       round(n_days / (CAST(demand AS DOUBLE)
             / sqrt(2 * CAST(demand AS DOUBLE) * {_EOQ_ORDER_COST}
                    / {_EOQ_HOLD_COST})), 6) AS days_between_orders
FROM d ORDER BY o_orderpriority
""",
)
def q_orders_eoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantity per priority class: EOQ = √(2DS/H) from
    the observed horizon demand, plus the implied replenishment count
    and cadence — the deterministic-demand HALF of the inventory
    policy q_orders_newsvendor's fractile completes (EOQ sets the lot
    SIZE against ordering-vs-holding cost; the newsvendor quantile
    sets the safety LEVEL against demand noise; real policies quote
    both). Cost parameters are stated literals — swap per SKU class.

    Scale shape: one map-combinable reduce to |priorities| rows (the
    distinct-day count combines as a per-day bitmap at worst); the
    policy math is one IEEE chain per dimension row.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("demand"),
        F.countDistinct(
            F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
        )
        .cast("long")
        .alias("n_days"),
    )
    dd = F.col("demand").cast("double")
    eoq = F.sqrt(2 * dd * _EOQ_ORDER_COST / _EOQ_HOLD_COST)
    return d.select(
        F.col("grp").alias("o_orderpriority"),
        "demand",
        "n_days",
        F.round(eoq, 6).alias("eoq"),
        F.round(dd / eoq, 6).alias("n_replenishments"),
        F.round(F.col("n_days") / (dd / eoq), 6).alias(
            "days_between_orders"
        ),
    ).orderBy("o_orderpriority")


_KANON_KS = (2, 5, 10)


@query(
    "q_events_k_anonymity",
    # Cell sizes are exact distinct-user counts; every per-k readout
    # is integer arithmetic over the cell frame plus one share ratio.
    oracle=f"""
WITH cells AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
ks AS (SELECT unnest(ARRAY{list(_KANON_KS)}) AS k)
SELECT CAST(k AS INTEGER) AS k,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CASE WHEN n_users < k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cells_below,
       CAST(min(n_users) AS BIGINT) AS min_cell_users,
       round(CAST(sum(CASE WHEN n_users < k THEN n_events ELSE 0 END)
                  AS DOUBLE) / sum(n_events), 6) AS event_share_at_risk,
       min(n_users) >= k AS k_anonymous
FROM cells CROSS JOIN ks
GROUP BY k ORDER BY k
""",
)
def q_events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the (event_type, day) quasi-identifier:
    for k ∈ {2, 5, 10}, how many cells isolate fewer than k distinct
    users and what share of EVENTS sits in those re-identifiable
    cells — the release-readiness check that must precede any
    aggregate publication (q_agg_dp_counts is the noise mechanism;
    this says whether the raw grid was safe to begin with — a cell of
    one user IS that user, no linkage attack required). `k_anonymous`
    is the pass/fail verdict per k.

    Scale shape: one map-combinable reduce to the quasi-identifier
    cell frame (types × days — dimension-sized); the k sweep is a
    3-literal cross join over that frame; integer counts and one
    share ratio per k row.
    """
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    ks = F.explode(F.array(*[F.lit(k) for k in _KANON_KS])).alias("k")
    return (
        cells.select("*", ks)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum((F.col("n_users") < F.col("k")).cast("int"))
            .cast("long")
            .alias("n_cells_below"),
            F.min("n_users").cast("long").alias("min_cell_users"),
            F.round(
                F.sum(
                    F.when(
                        F.col("n_users") < F.col("k"), F.col("n_events")
                    ).otherwise(0)
                ).cast("double")
                / F.sum("n_events"),
                6,
            ).alias("event_share_at_risk"),
            (F.min("n_users") >= F.max("k")).alias("k_anonymous"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "n_cells",
            "n_cells_below",
            "min_cell_users",
            "event_share_at_risk",
            "k_anonymous",
        )
        .orderBy("k")
    )


_LORENZ_BUCKETS = 10


@query(
    "q_agg_lorenz",
    # Customer spend deciles via the rank spine + closed-form ntile;
    # cumulative spend is an exact DECIMAL running sum over the
    # 10-row decile frame — both engines share every boundary.
    oracle=f"""
WITH c AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT spend,
         row_number() OVER (ORDER BY spend, o_custkey) AS rk,
         count(*) OVER () AS n
  FROM c
),
d AS (
  SELECT CASE WHEN rk <= (n % {_LORENZ_BUCKETS})
                   * (n // {_LORENZ_BUCKETS} + 1)
              THEN CAST(ceil(rk / (n // {_LORENZ_BUCKETS} + 1.0))
                        AS BIGINT)
              ELSE (n % {_LORENZ_BUCKETS})
                   + CAST(ceil((rk - (n % {_LORENZ_BUCKETS})
                                * (n // {_LORENZ_BUCKETS} + 1))
                               / (n // {_LORENZ_BUCKETS} * 1.0))
                          AS BIGINT) END AS decile,
         spend
  FROM r
),
g AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         sum(CAST(spend AS DECIMAL(28,2))) AS s
  FROM d GROUP BY decile
),
t AS (SELECT sum(s) AS tot FROM g)
SELECT CAST(g.decile AS INTEGER) AS decile, g.n_customers,
       round(CAST(g.s AS DOUBLE), 2) AS spend,
       round(CAST(sum(g.s) OVER (ORDER BY g.decile) AS DOUBLE)
             / CAST(t.tot AS DOUBLE), 6) AS cum_share
FROM g CROSS JOIN t
ORDER BY decile
""",
)
def q_agg_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend (decile points: cumulative share
    of revenue held by the bottom d/10 of customers) — the CURVE
    behind q_agg_gini's scalar: the gini coefficient says "0.62"; the
    Lorenz points say "the bottom half of customers carries 18% of
    revenue", which is the form a pricing or CRM decision actually
    consumes. Deciles are exact (ntile semantics), so the curve is
    reproducible under reruns and engine swaps.

    Scale shape: orders reduce to per-customer DECIMAL spend (one
    map-combinable shuffle); the decile assignment is the round-8
    rank-spine device — ``dist_cumsum`` row numbers + closed-form
    ``spark_ntile``, no |customers| single-partition sort — and the
    curve itself is a 10-row frame with an exact DECIMAL running sum.
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    ranked = dist_cumsum(
        c.withColumn("one", F.lit(1)),
        "spend",
        ["one"],
        tiebreak=["o_custkey"],
    ).select("spend", F.col("cum_one").alias("rk"))
    n = F.broadcast(c.agg(F.count(F.lit(1)).cast("long").alias("n")))
    d = ranked.crossJoin(n).select(
        "spend",
        spark_ntile(F.col("rk"), F.col("n"), _LORENZ_BUCKETS)
        .cast("long")
        .alias("decile"),
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("spend").cast("decimal(28,2)")).alias("s"),
    )
    t = F.broadcast(g.agg(F.sum("s").alias("tot")))
    wc = (
        W.partitionBy(bounded_part(F.col("n_customers")))
        .orderBy("decile")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        g.crossJoin(t)
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            F.round(F.col("s").cast("double"), 2).alias("spend"),
            F.round(
                F.sum("s").over(wc).cast("double")
                / F.col("tot").cast("double"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


@query(
    "q_orders_repeat", scan_repair=False,
    # Gaps are exact integer day differences; median/p90 are rank
    # selections (the q_agg_percentile_global convention) on the
    # |calendar-span|-bounded distinct-gap frame; mean is one IEEE
    # division of integer sums.
    oracle="""
WITH r AS (
  SELECT o_custkey,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT),
                    o_orderkey
         ) AS rn
  FROM orders
),
firsts AS (
  SELECT a.o_custkey, b.day - a.day AS gap
  FROM r a JOIN r b ON b.o_custkey = a.o_custkey AND b.rn = 2
  WHERE a.rn = 1
),
cust AS (
  SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders
),
g AS (SELECT gap, count(*) AS cnt FROM firsts GROUP BY gap),
c AS (
  SELECT gap, CAST(sum(cnt) OVER (ORDER BY gap) AS BIGINT) AS cum FROM g
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_repeat,
         CAST(sum(gap) AS BIGINT) AS sgap
  FROM firsts
)
SELECT cust.n_customers, s.n_repeat,
       round(CAST(s.n_repeat AS DOUBLE) / cust.n_customers, 6)
         AS repeat_rate,
       round(CAST(s.sgap AS DOUBLE) / s.n_repeat, 6) AS mean_gap_days,
       (SELECT min(CASE WHEN cum >= (s.n_repeat * 50 + 99) // 100
                        THEN gap END) FROM c) AS median_gap_days,
       (SELECT min(CASE WHEN cum >= (s.n_repeat * 90 + 99) // 100
                        THEN gap END) FROM c) AS p90_gap_days
FROM cust CROSS JOIN s
WHERE cust.n_customers > 0 AND s.n_repeat > 0
""",
)
def q_orders_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase dynamics: share of customers who ever order
    twice, and the first→second order gap's mean / exact median / p90
    in days — the acquisition-quality readout (q_retention asks "did
    the cohort come back this week"; this asks "how long until the
    SECOND purchase", the number reorder nudges and win-back timers
    are tuned against).

    Scale shape: one (customer)-keyed window pass picks the first two
    orders per customer (data-sized but key-partitioned); gaps are
    exact integer day differences whose DISTINCT values are bounded
    by the calendar span, so the median/p90 ride the
    q_agg_percentile_global device — distinct-gap counts (map-
    combinable) → ``dist_cumsum`` → integer-rank selection — with no
    sort buffer and no single-partition window at any customer count.
    Zero-repeat corpora emit nothing (rate undefined), never 0/0.
    """
    o = load_table(spark, sf_dir, "orders")
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
    w = W.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    r = o.select("o_custkey", day.alias("day"), "o_orderkey").withColumn(
        "rn", F.row_number().over(w)
    )
    a = r.filter(F.col("rn") == 1).select("o_custkey", F.col("day").alias("d1"))
    b2 = r.filter(F.col("rn") == 2).select("o_custkey", F.col("day").alias("d2"))
    firsts = a.join(b2, "o_custkey").select(
        (F.col("d2") - F.col("d1")).alias("gap")
    )
    cust = o.agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers")
    )
    s = firsts.agg(
        F.count(F.lit(1)).cast("long").alias("n_repeat"),
        F.sum("gap").cast("long").alias("sgap"),
    )
    g = firsts.groupBy("gap").agg(F.count(F.lit(1)).alias("cnt"))
    c = dist_cumsum(g, "gap", ["cnt"])
    sel = c.crossJoin(F.broadcast(s)).agg(
        F.min(
            F.when(
                F.col("cum_cnt")
                >= F.expr("(n_repeat * 50 + 99) div 100"),
                F.col("gap"),
            )
        ).alias("median_gap_days"),
        F.min(
            F.when(
                F.col("cum_cnt")
                >= F.expr("(n_repeat * 90 + 99) div 100"),
                F.col("gap"),
            )
        ).alias("p90_gap_days"),
    )
    return (
        cust.crossJoin(s)
        .crossJoin(F.broadcast(sel))
        .filter((F.col("n_customers") > 0) & (F.col("n_repeat") > 0))
        .select(
            "n_customers",
            "n_repeat",
            F.round(
                F.col("n_repeat").cast("double") / F.col("n_customers"), 6
            ).alias("repeat_rate"),
            F.round(
                F.col("sgap").cast("double") / F.col("n_repeat"), 6
            ).alias("mean_gap_days"),
            "median_gap_days",
            "p90_gap_days",
        )
    )


@query(
    "q_orders_leadtime", scan_repair=False,
    # Lead times are exact integer day differences; median/p90 are the
    # grouped rank-selection device (q_agg_median_exact convention)
    # on the calendar-bounded distinct-gap frame per priority; mean is
    # one IEEE division of integer sums.
    oracle="""
WITH lt AS (
  SELECT o.o_orderpriority AS prio,
         CAST(floor(epoch(l.l_shipdate) / 86400) AS BIGINT)
         - CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
g AS (SELECT prio, days, count(*) AS cnt FROM lt GROUP BY 1, 2),
c AS (
  SELECT prio, days,
         CAST(sum(cnt) OVER (PARTITION BY prio ORDER BY days)
              AS BIGINT) AS cum
  FROM g
),
s AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(days) AS BIGINT) AS sd
  FROM lt GROUP BY prio
)
SELECT s.prio AS o_orderpriority, s.n AS n_lines,
       round(CAST(s.sd AS DOUBLE) / s.n, 6) AS mean_days,
       (SELECT min(CASE WHEN c.cum >= (s.n * 50 + 99) // 100
                        THEN c.days END)
        FROM c WHERE c.prio = s.prio) AS median_days,
       (SELECT min(CASE WHEN c.cum >= (s.n * 90 + 99) // 100
                        THEN c.days END)
        FROM c WHERE c.prio = s.prio) AS p90_days
FROM s ORDER BY o_orderpriority
""",
)
def q_orders_leadtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time per order priority: exact mean, median
    and p90 in days — the fulfillment-SLA readout purchasing contracts
    quote ("URGENT ships in 3 days median, 9 days p90"), and the
    per-priority twin of q_orders_sla's breach counting: that op
    counts violations of a fixed bound, this reports the distribution
    the bound should be set FROM.

    Scale shape: the one data-sized step is the fact⋈fact
    lineitem→orders equi join (key-partitioned shuffle — or free on
    the q_join_bucketed layout); lead times are exact integer day
    differences whose DISTINCT values are calendar-bounded, so the
    grouped median/p90 ride the q_agg_median_exact device —
    per-priority distinct-gap counts (map-combinable) →
    ``dist_cumsum(part_cols=[priority])`` → integer-rank selections —
    no per-group sort buffer at any fact size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    sday = F.floor(F.unix_timestamp("l_shipdate") / 86400).cast("long")
    oday = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("prio"),
        (sday - oday).alias("days"),
    )
    # r13 (guide §1.2 "don't compute things you throw away"): the
    # per-priority totals used to re-aggregate lt directly — a SECOND
    # full evaluation of the fact⋈fact join. They are exactly
    # derivable from the bounded (prio, days) grid instead:
    # n = Σ cnt, Σ days = Σ days·cnt (all integer, bit-identical), so
    # the join now runs ONCE. The grid is calendar-bounded (≤ |days| ×
    # 5 priorities); one lazy localCheckpoint shares it between the
    # totals and the rank spine (dist_cumsum's own checkpoint is
    # skipped — same frame, one pin).
    g = (
        lt.groupBy("prio", "days")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    s = g.groupBy("prio").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("days") * F.col("cnt")).cast("long").alias("sd"),
    )
    c = dist_cumsum(g, "days", ["cnt"], part_cols=["prio"], checkpoint=False)
    sel = (
        c.join(F.broadcast(s), "prio")
        .groupBy("prio")
        .agg(
            F.min(
                F.when(
                    F.col("cum_cnt") >= F.expr("(n * 50 + 99) div 100"),
                    F.col("days"),
                )
            ).alias("median_days"),
            F.min(
                F.when(
                    F.col("cum_cnt") >= F.expr("(n * 90 + 99) div 100"),
                    F.col("days"),
                )
            ).alias("p90_days"),
        )
    )
    return (
        s.join(sel, "prio")
        .select(
            F.col("prio").alias("o_orderpriority"),
            F.col("n").alias("n_lines"),
            F.round(F.col("sd").cast("double") / F.col("n"), 6).alias(
                "mean_days"
            ),
            "median_days",
            "p90_days",
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Upper-tail dependence between two joint metrics (risk co-movement)
# ---------------------------------------------------------------------------

_TAILDEP_QS = (90, 95)


@query(
    "q_agg_taildep",
    # Thresholds are SELECTED data values at exact integer ranks (the
    # q_agg_percentile_global device); every output after that is
    # integer counting and one double ratio — no float math that could
    # diverge between engines.
    oracle=f"""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
gx AS (
  SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem GROUP BY 1
),
cx AS (
  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM gx
),
tx AS (
  SELECT
    min(CASE WHEN cum >= (n.n * 90 + 99) // 100 THEN v END) AS x90,
    min(CASE WHEN cum >= (n.n * 95 + 99) // 100 THEN v END) AS x95
  FROM cx CROSS JOIN n
),
gy AS (
  SELECT l_quantity AS v, count(*) AS cnt FROM lineitem GROUP BY 1
),
cy AS (
  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM gy
),
ty AS (
  SELECT
    min(CASE WHEN cum >= (n.n * 90 + 99) // 100 THEN v END) AS y90,
    min(CASE WHEN cum >= (n.n * 95 + 99) // 100 THEN v END) AS y95
  FROM cy CROSS JOIN n
),
c AS (
  SELECT
    CAST(sum(CASE WHEN l_extendedprice > x90 AND l_quantity > y90
             THEN 1 ELSE 0 END) AS BIGINT) AS j90,
    CAST(sum(CASE WHEN l_extendedprice > x90 THEN 1 ELSE 0 END)
         AS BIGINT) AS nx90,
    CAST(sum(CASE WHEN l_quantity > y90 THEN 1 ELSE 0 END)
         AS BIGINT) AS ny90,
    CAST(sum(CASE WHEN l_extendedprice > x95 AND l_quantity > y95
             THEN 1 ELSE 0 END) AS BIGINT) AS j95,
    CAST(sum(CASE WHEN l_extendedprice > x95 THEN 1 ELSE 0 END)
         AS BIGINT) AS nx95,
    CAST(sum(CASE WHEN l_quantity > y95 THEN 1 ELSE 0 END)
         AS BIGINT) AS ny95,
    max(x90) AS x90, max(x95) AS x95, max(y90) AS y90, max(y95) AS y95
  FROM lineitem CROSS JOIN tx CROSS JOIN ty
)
SELECT 90 AS q_pct, x90 AS x_thresh, y90 AS y_thresh,
       j90 AS n_joint, nx90 AS n_x, ny90 AS n_y,
       round(CAST(j90 AS DOUBLE) / nullif(ny90, 0), 6) AS lambda_u
FROM c
UNION ALL
SELECT 95, x95, y95, j95, nx95, ny95,
       round(CAST(j95 AS DOUBLE) / nullif(ny95, 0), 6)
FROM c
ORDER BY q_pct
""",
)
def q_agg_taildep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence λᵤ(q) between line price and
    quantity: of the rows in the upper-q tail of one metric, what
    share is ALSO in the upper-q tail of the other. Correlation is a
    body statistic — two metrics can be uncorrelated yet co-explode
    in the tail (the risk that matters for capacity planning and
    fraud: big orders that are big on EVERY axis). Under independence
    λᵤ ≈ 1−q/100; λᵤ ≫ that is tail co-movement no Pearson ρ shows.

    Scale shape (r12): thresholds come from the shared approx-bracket
    + exact local-refine device (``_util.exact_pct_values`` — never a
    native percentile buffering a data-sized group, never a data-sized
    distinct-value spine), land in a broadcast 1-row frame, and the
    joint counts are ONE partial-aggregated pass over the fact table.
    No data-sized shuffle anywhere: the only shuffled frames are the
    bounded bracket-candidate windows and 1-row aggregates.
    """
    # Repair back ON (r12, after the bracket-device rewrite below):
    # the old spine form's first hop was a keyed groupBy exchange
    # (repair opt-out class), but the device's first hop is a
    # CPU-heavy GK-sketch aggregate over the scan — the exact
    # single-task profile the repair exists for.
    li = load_table(spark, sf_dir, "lineitem")
    # Thresholds via the shared approx-bracket + exact local-refine
    # device (r12; extracted from q_agg_winsorized_corr into
    # _util.exact_pct_values): the old form built a full
    # distinct-PRICE dist_cumsum spine — a data-sized shuffle plus a
    # data-sized localCheckpoint for a money column — just to read two
    # crossings off it. The device selects the SAME data values at the
    # SAME integer ranks in two bounded passes (below-count fused into
    # the candidate pass), both axes riding one pass set; the oracle
    # keeps the spine construction unchanged.
    thr = F.broadcast(
        exact_pct_values(
            li,
            [
                (f"{p}{q}", F.col(col), q)
                for p, col in (
                    ("x", "l_extendedprice"),
                    ("y", "l_quantity"),
                )
                for q in _TAILDEP_QS
            ],
        )
    )
    x, y = F.col("l_extendedprice"), F.col("l_quantity")
    aggs = []
    for q in _TAILDEP_QS:
        xq, yq = F.col(f"x{q}"), F.col(f"y{q}")
        aggs += [
            F.sum(F.when((x > xq) & (y > yq), 1).otherwise(0))
            .cast("long")
            .alias(f"j{q}"),
            F.sum(F.when(x > xq, 1).otherwise(0))
            .cast("long")
            .alias(f"nx{q}"),
            F.sum(F.when(y > yq, 1).otherwise(0))
            .cast("long")
            .alias(f"ny{q}"),
        ]
    aggs += [
        F.max(f"{p}{q}").alias(f"{p}{q}")
        for q in _TAILDEP_QS
        for p in ("x", "y")
    ]
    c = li.crossJoin(thr).agg(*aggs)
    parts = []
    for q in _TAILDEP_QS:
        parts.append(
            c.select(
                F.lit(q).cast("int").alias("q_pct"),
                F.col(f"x{q}").alias("x_thresh"),
                F.col(f"y{q}").alias("y_thresh"),
                F.col(f"j{q}").alias("n_joint"),
                F.col(f"nx{q}").alias("n_x"),
                F.col(f"ny{q}").alias("n_y"),
                F.round(
                    F.col(f"j{q}").cast("double")
                    / F.nullif(F.col(f"ny{q}"), F.lit(0)),
                    6,
                ).alias("lambda_u"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("q_pct")


# ---------------------------------------------------------------------------
# Winsorized correlation (robust association, tail-clamped)
# ---------------------------------------------------------------------------


@query(
    "q_agg_winsorized_corr",
    # Clamp bounds are SELECTED data values at exact integer ranks
    # (percentile_global device), so clamped money/quantity values
    # keep their ≤2 fractional decimals and every power sum is an
    # exact decimal; both corrs are the q_agg_stats closed form on
    # identical doubles.
    oracle="""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
gx AS (
  SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem GROUP BY 1
),
cx AS (
  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM gx
),
tx AS (
  SELECT
    min(CASE WHEN cum >= (n.n * 5 + 99) // 100 THEN v END) AS xlo,
    min(CASE WHEN cum >= (n.n * 95 + 99) // 100 THEN v END) AS xhi
  FROM cx CROSS JOIN n
),
gy AS (
  SELECT l_quantity AS v, count(*) AS cnt FROM lineitem GROUP BY 1
),
cy AS (
  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM gy
),
ty AS (
  SELECT
    min(CASE WHEN cum >= (n.n * 5 + 99) // 100 THEN v END) AS ylo,
    min(CASE WHEN cum >= (n.n * 95 + 99) // 100 THEN v END) AS yhi
  FROM cy CROSS JOIN n
),
w AS (
  SELECT l_returnflag,
         l_extendedprice AS x, l_quantity AS y,
         least(greatest(l_extendedprice, xlo), xhi) AS xw,
         least(greatest(l_quantity, ylo), yhi) AS yw
  FROM lineitem CROSS JOIN tx CROSS JOIN ty
),
s AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy,
    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(xw AS DECIMAL(28,6))) AS DOUBLE) AS swx,
    CAST(SUM(CAST(xw * xw AS DECIMAL(38,6))) AS DOUBLE) AS swxx,
    CAST(SUM(CAST(yw AS DECIMAL(28,6))) AS DOUBLE) AS swy,
    CAST(SUM(CAST(yw * yw AS DECIMAL(28,6))) AS DOUBLE) AS swyy,
    CAST(SUM(CAST(xw * yw AS DECIMAL(38,6))) AS DOUBLE) AS swxy
  FROM w GROUP BY 1
)
SELECT l_returnflag, n,
  round((n*sxy - sx*sy)
        / nullif(sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy), 0), 6)
    AS corr_raw,
  round((n*swxy - swx*swy)
        / nullif(sqrt(n*swxx - swx*swx) * sqrt(n*swyy - swy*swy), 0), 6)
    AS corr_winsorized,
  round((n*swxy - swx*swy)
        / nullif(sqrt(n*swxx - swx*swx) * sqrt(n*swyy - swy*swy), 0)
        - (n*sxy - sx*sy)
          / nullif(sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy), 0), 6)
    AS delta
FROM s ORDER BY l_returnflag
""",
)
def q_agg_winsorized_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized correlation per return flag: Pearson corr of price
    vs quantity after clamping both to their global [p5, p95] — the
    robust-association check run NEXT TO q_agg_stats' raw corr, with
    the delta as the verdict: a large |raw − winsorized| says the
    association is a tail artifact (a few whale orders), not a body
    relationship — exactly the failure mode that makes a "strong
    correlate" evaporate in production.

    Scale shape (r12): clamp bounds from the approx-bracket + exact
    local-refine device — percentile_approx brackets each target rank
    in-plan (no collect), ONE pass buckets below-floor rows into a
    per-tag sentinel and emits in-bracket candidates, and the exact
    crossing is read off a tag-partitioned NULLS-FIRST prefix window
    over the BOUNDED bracket window (12/acc of n ranks). The
    r11 form built the full distinct-value dist_cumsum spine, which
    for a money column is a data-sized shuffle plus a data-sized
    localCheckpoint (the r11-ADVICE hazard) just to read four
    crossings; measured sf0.1 timing is parity (the ten-power-sum pass
    dominates both forms) — the bracket form wins on the 100 TB shape,
    where "bounded window" beats "|distinct prices| spine" outright.
    Bounds are the same selected data values, so the oracle is
    unchanged. Then ONE partial-aggregated pass computes all ten power
    sums (raw + winsorized) — clamping at selected data values
    preserves the ≤2-decimal money grid, so every sum is an exact
    decimal and the closed form is engine-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")

    # EXACT rank crossings via the shared approx-bracket + exact
    # local-refine device (_util.exact_pct_values — this query is
    # where the device was born; the r12 continuation migrated it onto
    # the shared, below-count-fused form, dropping one full scan and
    # the duplicated inline copy). The r11 form built dist_cumsum over
    # the stacked distinct values — but l_extendedprice is money, so
    # that spine is ~|rows| distinct values (583k at sf0.1, measured
    # 6.1 s of the query's ~10 s) shuffled and materialized just to
    # read FOUR crossings off it. Every published value is still a
    # SELECTED data value at the same exact integer rank — the oracle
    # is unchanged. The thresholds now keep the source decimal dtype
    # (the device selects values in their original type); clamping at
    # the same ≤2-decimal money values yields bit-identical sums.
    thr = F.broadcast(
        exact_pct_values(
            li.select("l_extendedprice", "l_quantity"),
            [
                ("xlo", F.col("l_extendedprice"), 5),
                ("xhi", F.col("l_extendedprice"), 95),
                ("ylo", F.col("l_quantity"), 5),
                ("yhi", F.col("l_quantity"), 95),
            ],
        ).select("xlo", "xhi", "ylo", "yhi")
    )
    w = li.crossJoin(thr).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("x"),
        F.col("l_quantity").alias("y"),
        F.least(
            F.greatest(F.col("l_extendedprice"), F.col("xlo")), F.col("xhi")
        ).alias("xw"),
        F.least(
            F.greatest(F.col("l_quantity"), F.col("ylo")), F.col("yhi")
        ).alias("yw"),
    )

    def dsum(expr, dt):
        return F.sum(expr.cast(dt)).cast("double")

    s = w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("x"), "decimal(28,6)").alias("sx"),
        dsum(F.col("x") * F.col("x"), "decimal(38,6)").alias("sxx"),
        dsum(F.col("y"), "decimal(28,6)").alias("sy"),
        dsum(F.col("y") * F.col("y"), "decimal(28,6)").alias("syy"),
        dsum(F.col("x") * F.col("y"), "decimal(38,6)").alias("sxy"),
        dsum(F.col("xw"), "decimal(28,6)").alias("swx"),
        dsum(F.col("xw") * F.col("xw"), "decimal(38,6)").alias("swxx"),
        dsum(F.col("yw"), "decimal(28,6)").alias("swy"),
        dsum(F.col("yw") * F.col("yw"), "decimal(28,6)").alias("swyy"),
        dsum(F.col("xw") * F.col("yw"), "decimal(38,6)").alias("swxy"),
    )

    def corr(px, pxx, py, pyy, pxy):
        return (F.col("n") * F.col(pxy) - F.col(px) * F.col(py)) / F.nullif(
            F.sqrt(F.col("n") * F.col(pxx) - F.col(px) * F.col(px))
            * F.sqrt(F.col("n") * F.col(pyy) - F.col(py) * F.col(py)),
            F.lit(0.0),
        )

    raw = corr("sx", "sxx", "sy", "syy", "sxy")
    win = corr("swx", "swxx", "swy", "swyy", "swxy")
    return s.select(
        "l_returnflag",
        "n",
        F.round(raw, 6).alias("corr_raw"),
        F.round(win, 6).alias("corr_winsorized"),
        F.round(win - raw, 6).alias("delta"),
    ).orderBy("l_returnflag")


@query(
    "q_agg_quantile_ci",
    # Rank bounds are floor/ceil of n/2 ∓ 0.98√n — identical IEEE on
    # the same BIGINT n in both engines — and every published value is
    # a SELECTED data value at an integer rank on the distinct-value
    # cumulative spine: no float aggregation anywhere.
    oracle="""
WITH g AS (
  SELECT o_totalprice AS v, count(*) AS cnt FROM orders GROUP BY 1
),
c AS (
  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM g
),
n AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         greatest(CAST(1 AS BIGINT),
                  CAST(floor(count(*) / 2e0
                             - 0.98e0 * sqrt(count(*))) AS BIGINT)) AS lo_rank,
         least(CAST(count(*) AS BIGINT),
               CAST(ceil(count(*) / 2e0 + 1e0
                         + 0.98e0 * sqrt(count(*))) AS BIGINT)) AS hi_rank
  FROM orders
)
SELECT max(n.n) AS n_rows,
       max(n.lo_rank) AS lo_rank,
       max(n.hi_rank) AS hi_rank,
       min(CASE WHEN cum >= (n.n * 50 + 99) // 100 THEN v END) AS median,
       min(CASE WHEN cum >= n.lo_rank THEN v END) AS ci_lo,
       min(CASE WHEN cum >= n.hi_rank THEN v END) AS ci_hi
FROM c CROSS JOIN n
""",
)
def q_agg_quantile_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free ~95% confidence interval for the EXACT global
    median of order totals via binomial order-statistic bounds (ranks
    n/2 ∓ z/2·√n, z = 1.96) — the uncertainty readout none of the
    point-quantile ops publish: a median is a sample statistic, and
    shipping it without its sampling band invites reading noise as
    movement (the week-over-week "median shifted 2%" alarm when the
    CI width is 3%). Distribution-free: no normality assumed of the
    DATA — the binomial argument is about ranks, so the band is valid
    for any continuous distribution.

    Scale shape: q_agg_percentile_global's device verbatim — the fact
    table reduces to distinct-value counts (map-combinable),
    ``dist_cumsum`` builds exact cumulative counts with no
    single-partition window, and all three published values are rank
    CROSSINGS (first value whose cumulative count clears an integer
    rank) in one tiny final aggregate. The CI costs nothing beyond
    the median itself: two more CASE arms on the same spine.
    """
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    c = dist_cumsum(g, "v", ["cnt"]).select(
        "v", F.col("cum_cnt").cast("long").alias("cum")
    )
    n = F.broadcast(
        o.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            "n",
            F.expr(
                "greatest(CAST(1 AS BIGINT), "
                "CAST(floor(n / 2.0D - 0.98D * sqrt(n)) AS BIGINT))"
            ).alias("lo_rank"),
            F.expr(
                "least(n, CAST(ceil(n / 2.0D + 1.0D + 0.98D * sqrt(n)) "
                "AS BIGINT))"
            ).alias("hi_rank"),
        )
    )
    j = c.crossJoin(n)
    return j.agg(
        F.max("n").alias("n_rows"),
        F.max("lo_rank").alias("lo_rank"),
        F.max("hi_rank").alias("hi_rank"),
        F.min(
            F.when(F.col("cum") >= _rank_at(50, "n"), F.col("v"))
        ).alias("median"),
        F.min(F.when(F.col("cum") >= F.col("lo_rank"), F.col("v"))).alias(
            "ci_lo"
        ),
        F.min(F.when(F.col("cum") >= F.col("hi_rank"), F.col("v"))).alias(
            "ci_hi"
        ),
    )
