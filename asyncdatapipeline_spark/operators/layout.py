"""Data-layout operators: bucketed co-located joins and salted skew joins.

The reference has no storage layout at all (its data model is an opaque
``[]T`` batch, async_data_pipeline.go:67); these operators are the
100 TB-scale half of the join doctrine in ``operators/joins.py``:

- **Bucketing** (`q_join_bucketed`): a fact⋈fact join shuffles both
  sides on every run. Bucketing both tables on the join key at WRITE
  time (``bucketBy`` + ``sortBy``) makes every subsequent join
  shuffle-free — the exchange is paid once, at ingest, not per query.
  At 100 TB this is the difference between an hourly pipeline re-paying
  a corpus-wide shuffle and reading co-located buckets. The test
  (tests/test_layout.py) asserts the physical plan contains NO
  ShuffleExchange above either scan.
- **Salting** (`q_join_salted` / :func:`salted_join`): when one join key
  dominates (a handful of power-users own half the events table), the
  task holding that key becomes the straggler. Salting splits each hot
  key into ``n_salts`` sub-keys on the big side and replicates the small
  side once per salt — an n_salts-way fan-out of the hot partition for
  an n_salts× duplication of the (small) build side. AQE's skew-join
  split (enabled in the session factory) handles moderate skew
  automatically; explicit salting is the tool when one key exceeds what
  a single split can absorb, and composes with broadcast being
  impossible (build side too big).
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from asyncdatapipeline_spark.operators._util import dsum, sql_dsum
from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

_N_BUCKETS = 8
_N_SALTS = 8

# All derived layouts live under the repo, independent of the session's
# warehouse conf (an externally-built session defaults its warehouse to
# the caller's cwd — tables are created with explicit external paths so
# nothing lands there).
_LAYOUT_DIR = Path(__file__).resolve().parents[2] / ".spark-warehouse"


def _corpus_tag(sf_dir: str) -> str:
    """Catalog-safe per-corpus tag: derived from the sf suffix when the
    dir follows the fixture convention, else a sanitized form of the
    whole path (temp dirs in tests carry slashes a table name can't)."""
    import re as _re

    raw = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    return _re.sub(r"[^0-9a-zA-Z_]", "_", raw).strip("_") or "corpus"


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int = _N_BUCKETS,
    sort_keys: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+ bucket-sorted) managed table.

    Bucket-pruned, co-located reads require the table to live in the
    session catalog (parquet ``path=`` writes drop bucketing metadata).
    ``sortBy`` additionally sorts within each bucket file so a
    sort-merge join needs no sort either.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *keys)
        .sortBy(*(sort_keys or keys))
        .format("parquet")
        .option("path", str(_LAYOUT_DIR / table))
        .saveAsTable(table)
    )
    # Spec marker: lets a LATER session re-register these files with DDL
    # instead of rewriting them (the default catalog is in-memory, so
    # bucketing metadata dies with the session — the data doesn't).
    (_LAYOUT_DIR / table / "_BUCKET_SPEC.json").write_text(
        json.dumps(
            {
                "keys": keys,
                "sort_keys": sort_keys or keys,
                "n_buckets": n_buckets,
                "schema": df.schema.toDDL(),
            }
        )
    )


def register_existing_bucketed(spark: SparkSession, table: str) -> bool:
    """Re-register an already-written bucketed layout in THIS session's
    catalog via ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` — the
    ingest cost is paid once per corpus, not once per session. Returns
    False (caller rewrites) when no spec marker is present.
    """
    loc = _LAYOUT_DIR / table
    spec_file = loc / "_BUCKET_SPEC.json"
    if not (spec_file.exists() and (loc / "_SUCCESS").exists()):
        return False
    try:
        spec = json.loads(spec_file.read_text())
        keys = ", ".join(spec["keys"])
        sort_keys = ", ".join(spec["sort_keys"])
        spark.sql(
            f"CREATE TABLE {table} ({spec['schema']}) USING parquet "
            f"CLUSTERED BY ({keys}) SORTED BY ({sort_keys}) "
            f"INTO {spec['n_buckets']} BUCKETS LOCATION '{loc}'"
        )
        return True
    except Exception:  # pragma: no cover — any mismatch → clean rewrite
        return False


def bucketed_tables_ready(spark: SparkSession, sf_dir: str) -> bool:
    """True if the bucketed twin tables for ``sf_dir`` already exist."""
    tag = _corpus_tag(sf_dir)
    return spark.catalog.tableExists(
        f"orders_b_{tag}"
    ) and spark.catalog.tableExists(f"customer_b_{tag}")


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/customer bucketed by custkey once per CORPUS.

    Bucketing metadata lives in the (in-memory) session catalog, but
    the files + a ``_BUCKET_SPEC.json`` marker persist — a new session
    re-registers the existing layout with DDL
    (:func:`register_existing_bucketed`) instead of rewriting it.
    Unmarked/stale locations are cleared and rewritten (saveAsTable
    refuses to reuse an unregistered location).
    """
    tag = _corpus_tag(sf_dir)
    ot, ct = f"orders_b_{tag}", f"customer_b_{tag}"
    for tbl, src, keys in (
        (ot, "orders", ["o_custkey"]),
        (ct, "customer", ["c_custkey"]),
    ):
        if spark.catalog.tableExists(tbl):
            continue
        if register_existing_bucketed(spark, tbl):
            continue  # files from a prior session — registered, not rewritten
        shutil.rmtree(_LAYOUT_DIR / tbl, ignore_errors=True)
        write_bucketed(load_table(spark, sf_dir, src), tbl, keys)
    return ot, ct


@query(
    "q_join_bucketed",
    oracle=f"""
SELECT c.c_mktsegment, COUNT(*) AS n_orders,
  {sql_dsum('o.o_totalprice', 'sum_price')}
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join via bucketed layout (scale doctrine).

    Both sides are written ``bucketBy(8, custkey)`` + in-bucket sorted
    (one-time ingest cost), so the join plan is a SortMergeJoin whose
    children are bare bucketed scans — no Exchange, no per-query Sort.
    Results are identical to the plain shuffled join, which is exactly
    what the oracle checks.

    The SMJ is pinned with a ``merge`` join hint, not a session conf:
    physical planning happens at action time, so a conf set here and
    restored before return would never reach the plan the caller
    executes (and would clobber any caller-provided threshold). The
    hint rides the logical plan and survives AQE's runtime re-planning
    (verified: executed plan keeps SortMergeJoin with AQE on and the
    default broadcast threshold).
    """
    ot, ct = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(ot)
    c = spark.table(ct)
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


def ensure_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write events re-laid-out as date-partitioned parquet, once per sf.

    The canonical time-series layout at 100 TB: partition directories by
    event date so any time-bounded query prunes to the touched days
    before a single row is read. Returns the dataset path.
    """
    tag = _corpus_tag(sf_dir)
    out = _LAYOUT_DIR / f"events_by_day_{tag}"
    if not (out / "_SUCCESS").exists():
        # parallelize=True: the layout is shared, so its file count must
        # not depend on whether a scan_repair=False query (q_join_dpp)
        # or a repaired one builds it first
        e = load_table(spark, sf_dir, "events", parallelize=True).withColumn(
            "event_date", F.to_date("ts")
        )
        e.write.mode("overwrite").partitionBy("event_date").parquet(str(out))
    return str(out)


@query(
    "q_scan_partition_pruned",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {sql_dsum('value', 'sum_value')}
FROM events
WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
GROUP BY event_type
""",
)
def q_scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partition-pruned scan over the re-laid-out events table
    (scale doctrine: partition pruning is the first 1000× at 100 TB).

    The filter on the partition column resolves to directory pruning at
    plan time — ``PartitionFilters`` in the scan node, zero data files
    from other days opened (plan-asserted in tests/test_layout.py). The
    oracle runs the same query on the unpartitioned original, proving
    the relayout changes nothing but the I/O.
    """
    path = ensure_partitioned_events(spark, sf_dir)
    # Explicit schema: partitioned datasets carry part of their schema in
    # directory names, and a dataset with zero partitions (legal — e.g. an
    # empty ingest day) has nothing to infer from. Deriving the schema
    # from the source table keeps the scan readable in that state too.
    schema = (
        load_table(spark, sf_dir, "events")
        .withColumn("event_date", F.to_date("ts"))
        .schema
    )
    e = spark.read.schema(schema).parquet(path)
    first_day = e.select(F.min("event_date")).first()[0]
    return (
        e.filter(F.col("event_date") == F.lit(first_day))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = _N_SALTS,
) -> DataFrame:
    """Equi join with an ``n_salts``-way salt on the big side's key.

    big gains ``salt = pmod(xxhash64(monotonically_increasing_id()),
    n)`` (uniform, row-unique — NOT derived from the key, which would
    re-concentrate the hot key); small is exploded once per salt value.
    The join key becomes (key, salt), spreading any single hot key over
    ``n_salts`` tasks. Output columns = big ∪ small, exactly as the
    unsalted join.
    """
    salted_big = big.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)).cast(
            "int"
        ),
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return (
        salted_big.join(
            salted_small,
            (F.col(big_key) == F.col(small_key))
            & (salted_big["__salt"] == salted_small["__salt"]),
        )
        .drop("__salt")
    )


@query(
    "q_join_salted",
    oracle=f"""
SELECT c.c_mktsegment, COUNT(*) AS n_events,
  {sql_dsum('e.value', 'sum_value')}
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi join events⋈customer (scale doctrine).

    events.user_id is the archetypal skewed key (power users). The salt
    spreads each key over 8 sub-keys; customer rows are replicated 8×
    (cheap — the replicated side is the smaller one). Results are
    identical to the plain join — the oracle checks that.
    """
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    joined = salted_join(e, c, "user_id", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )


@query(
    "q_join_dpp", scan_repair=False,
    oracle=f"""
WITH per_day AS (
  SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_days FROM per_day
),
dim AS (
  SELECT event_date FROM per_day, tot WHERE n * n_days > total
)
SELECT e.event_type, COUNT(*) AS n_events, {sql_dsum('e.value', 'sum_value')}
FROM events e JOIN dim d ON CAST(e.ts AS DATE) = d.event_date
GROUP BY e.event_type
""",
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: fact partitions pruned at RUNTIME by a
    dim-side filter static planning cannot see (layout family, with
    B63's static pruning as the plan-time counterpart).

    The dim is "busy days" — dates whose event count exceeds the
    per-day mean (exact integer comparison, no float tie risk; ~half
    the days qualify at every fixture SF). That
    predicate depends on data, not on the join column, so no static
    partition filter can be inferred; instead Catalyst plants
    ``dynamicpruningexpression(event_date IN subquery)`` in the fact
    scan's PartitionFilters (plan-asserted): the broadcast dim's dates
    are computed first and only those partition directories of the fact
    are read. At 100 TB this is the difference between scanning the
    fact table and scanning the qualifying days.
    """
    path = ensure_partitioned_events(spark, sf_dir)
    schema = (
        load_table(spark, sf_dir, "events")
        .withColumn("event_date", F.to_date("ts"))
        .schema
    )
    fact = spark.read.schema(schema).parquet(path)

    per_day = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # The threshold is ONE scalar (a query parameter, like q_sim_topk's
    # query vector), fetched driver-side: n > total // n_days is exactly
    # n * n_days > total in integers, and the literal comparison is what
    # Catalyst's isLikelySelective heuristic needs to see before it
    # plants a pruning subquery.
    total, n_days = per_day.agg(
        F.sum("n"), F.count(F.lit(1))
    ).first()
    # empty events → no days, sum() is NULL: threshold 0 over an empty
    # per_day still yields an empty dim (and an empty join), not a crash
    thr = int(total // n_days) if (total is not None and n_days) else 0
    dim = per_day.filter(F.col("n") > thr).select("event_date")
    # Explicit broadcast: the dim must be the BUILD side for Catalyst to
    # plant the pruning subquery on the fact scan (at toy SF the planner
    # would otherwise happily broadcast the "fact" and prune nothing).
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
    )


@query(
    "q_join_bloom", scan_repair=False,
    oracle=f"""
SELECT l.l_returnflag, COUNT(*) AS n_lines,
       {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1' AND p.p_size <= 25
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
""",
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pushdown — the NON-partitioned sibling
    of q_join_dpp's dynamic partition pruning: a selective dim filter
    (brand = 1 of 25) plants a bloom filter on the FACT scan at runtime
    (``InjectRuntimeFilter`` → ``might_contain(...)`` in the fact-side
    Filter, plan-asserted), so fact rows that cannot survive the join
    die at the scan instead of riding the shuffle.

    At 100 TB this is the scan-killer for joins the layout cannot help:
    the table isn't partitioned by the join key (DPP inapplicable) and
    the dim is above the broadcast threshold. Spark gates injection on
    a ≥10 GB application-side scan — the right default, which toy
    fixtures never meet — so this operator pins the 100 TB decision
    into its own plan: thresholds scoped to THIS DataFrame's plan
    materialization (broadcast off → shuffle join, application-side
    floor 0), then restored; the sweep's other queries never see them.
    The bloom filter only prunes — results are conf-independent, so the
    oracle is the plain join.
    """
    # scan_repair=False, for BOTH sides: InjectRuntimeFilter
    # pattern-matches a selective filter over the creation-side SCAN
    # and plants might_contain on the application-side SCAN; the
    # repair's Repartition in either subtree stops the rewrite
    # (plan-audited `might_contain`)
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 25)
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(revenue, "revenue"),
        )
        .orderBy("l_returnflag")
    )
    scoped = {
        # Pretend the fact scan is 100 TB so InjectRuntimeFilter fires
        # at fixture scale (its real default, 10 GB, is correct at
        # scale and stays untouched for every other query).
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # Dim above broadcast threshold → shuffle join, the case bloom
        # filters exist for (a broadcast dim already prunes at probe).
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in scoped}
    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        # Freeze the injected bloom filter into THIS DataFrame: the
        # optimized logical plan is a lazy val materialized here, while
        # the scoped confs are active. Later physical planning /
        # execution derives from it; restoring the confs cannot remove
        # the injected might_contain.
        df._jdf.queryExecution().optimizedPlan()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return df


def compact_dataset(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    schema=None,
) -> int:
    """Compact a small-file parquet dataset to ~``target_file_mb`` files.

    The operational tail of every streaming/incremental pipeline: each
    micro-batch commit writes a file per task, and a month of 30-second
    triggers leaves millions of kilobyte files whose open/footer cost
    dominates scans. Rewrite sizes the file count from the dataset's
    actual bytes (ceil(bytes / target)), never from a row guess.

    Returns the new file count. Write-then-swap: the rewrite lands in a
    sibling directory and replaces the original only after _SUCCESS, so
    a mid-compaction crash leaves the source intact.
    """
    import math
    import os

    src = Path(path)
    data_bytes = sum(
        f.stat().st_size for f in src.rglob("*.parquet") if f.is_file()
    )
    n_files = max(1, math.ceil(data_bytes / (target_file_mb * 1024 * 1024)))
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(str(src))
    tmp = src.with_name(src.name + ".compact-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    # coalesce, not repartition: narrowing to n_files needs no shuffle
    df.coalesce(n_files).write.mode("overwrite").parquet(str(tmp))
    if not (tmp / "_SUCCESS").exists():  # pragma: no cover - write failed
        raise IOError(f"compaction write incomplete at {tmp}")
    backup = src.with_name(src.name + ".pre-compact")
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(src, backup)
    os.rename(tmp, src)
    shutil.rmtree(backup)
    return len(list(src.rglob("*.parquet")))


def ensure_daily_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Maintain the daily pre-aggregate of events, once per sf — the
    continuous-aggregate / hypertable-rollup layout.

    One row per (event_date, event_type) carrying EXACT decimal partial
    sums (`DECIMAL` addition is associative, so partials merge in any
    order — a double partial would wobble with merge order) plus the
    row count. In production each closed day appends its partition;
    here the whole table is built once. Returns the dataset path.
    """
    from asyncdatapipeline_spark.operators._util import DEC

    tag = _corpus_tag(sf_dir)
    out = _LAYOUT_DIR / f"events_rollup_1d_{tag}"
    if not (out / "_SUCCESS").exists():
        (
            load_table(spark, sf_dir, "events")
            .groupBy(
                F.to_date("ts").alias("event_date"),
                F.col("event_type"),
            )
            .agg(
                F.sum(F.col("value").cast(DEC)).alias("sum_value_dec"),
                F.count(F.lit(1)).alias("n"),
            )
            .write.mode("overwrite")
            .parquet(str(out))
        )
    return str(out)


@query(
    "q_agg_incremental",
    oracle=f"""
SELECT event_type,
       {sql_dsum('value', 'sum_value')},
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
         AS avg_value
FROM events
GROUP BY event_type
""",
)
def q_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup merge (hypertable pattern, layout
    family): answer a whole-history aggregate from the DAILY rollup
    instead of the raw events.

    The query touches |days|×|types| pre-aggregated rows, not |events|
    raw ones — at 100 TB that is the difference between a metadata-sized
    merge and a full rescan, and the daily rollup is maintained
    incrementally (one appended partition per closed day). Merging is
    exact because the stored partials are DECIMAL (associative): sums
    add, counts add, averages derive as merged-sum / merged-count. The
    oracle aggregates the raw events directly, proving rollup-merge ≡
    rescan.
    """
    path = ensure_daily_rollup(spark, sf_dir)
    r = spark.read.parquet(path)
    total_dec = F.sum("sum_value_dec")
    return r.groupBy("event_type").agg(
        total_dec.cast("double").alias("sum_value"),
        F.sum("n").alias("n_events"),
        (total_dec.cast("double") / F.sum("n")).alias("avg_value"),
    )


def append_day_to_rollup(
    spark: SparkSession, rollup_path: str, day_events: DataFrame
) -> None:
    """Fold one closed day's raw events into the daily rollup — the
    incremental-maintenance path of the continuous aggregate.

    Aggregates ONLY the new day (decimal partials, same shape as
    :func:`ensure_daily_rollup`) and appends; no rewrite of history.
    Correctness does not require day-exclusivity: q_agg_incremental's
    merge sums partials, so two rollup rows for the same (day, type) —
    e.g. a late-arriving slice of an already-folded day appended on its
    own — merge to the same totals as one row. Append ≡ rebuild is
    asserted in tests/test_layout.py.
    """
    from asyncdatapipeline_spark.operators._util import DEC

    (
        day_events.groupBy(
            F.to_date("ts").alias("event_date"),
            F.col("event_type"),
        )
        .agg(
            F.sum(F.col("value").cast(DEC)).alias("sum_value_dec"),
            F.count(F.lit(1)).alias("n"),
        )
        .write.mode("append")
        .parquet(rollup_path)
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) multi-dimensional clustering
# ---------------------------------------------------------------------------

# 16-bit Morton spread via the standard mask cascade — plain integer
# bit math generated per engine (Spark spells shifts shiftleft(),
# DuckDB <<), so both compute the identical key. Subexpressions are
# textually duplicated by the generator; they are integer ops on one
# column, so the recompute is noise.
_SPREAD_STEPS = ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765))


def _zorder_key(a: str, b: str, shl) -> str:
    def spread(x: str) -> str:
        e = f"({x} & 65535)"
        for sh, mask in _SPREAD_STEPS:
            e = f"(({e} | {shl(e, sh)}) & {mask})"
        return e

    return f"({spread(a)} | {shl(spread(b), 1)})"


def _zkey_spark(a: str, b: str) -> str:
    return _zorder_key(a, b, lambda e, n: f"shiftleft({e}, {n})")


def _zkey_duck(a: str, b: str) -> str:
    return _zorder_key(a, b, lambda e, n: f"({e} << {n})")


_Z_CELL_SHIFT = 8  # 256-key Z-cells = aligned 16×16 grid blocks


@query(
    "q_layout_zorder",
    oracle=f"""
WITH h AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour_id
  FROM events
),
mins AS (
  SELECT min(user_id) AS u0, max(user_id) AS u1,
         min(hour_id) AS h0, max(hour_id) AS h1
  FROM h
),
z AS (
  SELECT event_id, user_id, hour_id,
         {_zkey_duck(
             "(((user_id - mins.u0) * 255) // greatest(1, mins.u1 - mins.u0))",
             "(((hour_id - mins.h0) * 255) // greatest(1, mins.h1 - mins.h0))",
         )} AS zkey
  FROM h CROSS JOIN mins
)
SELECT zkey >> {_Z_CELL_SHIFT} AS zcell,
       count(*) AS n_events,
       min(user_id) AS u_min, max(user_id) AS u_max,
       min(hour_id) AS h_min, max(hour_id) AS h_max
FROM z GROUP BY 1 ORDER BY 1
""",
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, hour) + per-cell
    span report (layout family): the multi-dimensional ingest sort that
    makes min/max row-group pruning work for BOTH predicate dimensions
    at once — a single-column sort gives perfect pruning on one dim and
    none on the other; Z-order trades a little of each for useful
    pruning on both (the table-format OPTIMIZE ZORDER idea, as a plain
    expression).

    The key is pure integer bit math (16-bit mask-cascade interleave) —
    map-only codegen, identical in both engines. The report groups rows
    into coarse Z-cells and shows each cell's span in BOTH dims: cells
    are tight in user AND hour simultaneously, which is exactly the
    per-file min/max statistics a zkey-sorted write hands the pruner.
    tests/test_layout_zorder.py asserts the layout property itself:
    zkey-sorted files bound both per-file spans; arrival order does not.
    """
    e = load_table(spark, sf_dir, "events")
    h = e.select(
        "event_id",
        "user_id",
        F.expr("unix_timestamp(ts) div 3600").alias("hour_id"),
    )
    # Both dims rescale to a COMMON 8-bit grid against the corpus
    # min/max (a lazy 1-row frame — corpus constants at ingest) before
    # interleaving. Two reasons, both observed: interleaving ABSOLUTE
    # values lets one dim's offset bits dominate (a single-column sort
    # in disguise), and interleaving zero-based dims of UNEQUAL bit
    # width leaves the narrow dim's high lanes all-zero, so every
    # coarse split lands on wide-dim bits only — the narrow dim gets
    # no locality. Equal-width grids give genuinely alternating bits.
    mins = h.agg(
        F.min("user_id").alias("u0"),
        F.max("user_id").alias("u1"),
        F.min("hour_id").alias("h0"),
        F.max("hour_id").alias("h1"),
    )
    ub = "(((user_id - u0) * 255) div greatest(1, u1 - u0))"
    hb = "(((hour_id - h0) * 255) div greatest(1, h1 - h0))"
    z = h.crossJoin(F.broadcast(mins)).select(
        "event_id",
        "user_id",
        "hour_id",
        F.expr(_zkey_spark(ub, hb)).alias("zkey"),
    )
    return (
        z.groupBy(
            F.shiftright("zkey", _Z_CELL_SHIFT).alias("zcell")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("user_id").alias("u_min"),
            F.max("user_id").alias("u_max"),
            F.min("hour_id").alias("h_min"),
            F.max("hour_id").alias("h_max"),
        )
        .orderBy("zcell")
    )


# Partition-advisor thresholds: a good partition column at 100 TB has
# enough distinct values to parallelize (>= _PA_MIN_PARTS) without
# drowning the metastore / small-filing the lake (<= _PA_MAX_PARTS),
# and no partition holding more than _PA_MAX_SHARE of rows.
_PA_MIN_PARTS = 4
_PA_MAX_PARTS = 10_000
_PA_MAX_SHARE = 0.5


@query(
    "q_layout_advisor",
    # Distinct counts, row counts and max-partition counts are exact
    # integers per candidate column; shares/skew are one IEEE division
    # each; the verdict is pure threshold logic on those.
    oracle=f"""
WITH cand AS (
  SELECT 'events' AS tbl, 'event_type' AS col, event_type AS val
  FROM events
  UNION ALL
  SELECT 'documents', 'source', source FROM documents
  UNION ALL
  SELECT 'documents', 'lang', lang FROM documents
),
per AS (
  SELECT tbl, col, val, CAST(count(*) AS BIGINT) AS cnt
  FROM cand GROUP BY 1, 2, 3
),
agg AS (
  SELECT tbl, col,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(max(cnt) AS BIGINT) AS max_part_rows
  FROM per GROUP BY 1, 2
)
SELECT tbl, col, n_distinct, n_rows,
       round(max_part_rows * 1.0 / n_rows, 6) AS max_share,
       round(max_part_rows * 1.0 / (n_rows * 1.0 / n_distinct), 6)
         AS skew_ratio,
       CASE
         WHEN n_distinct < {_PA_MIN_PARTS} THEN 'too_few_partitions'
         WHEN n_distinct > {_PA_MAX_PARTS} THEN 'too_many_partitions'
         WHEN max_part_rows * 1.0 / n_rows > {_PA_MAX_SHARE}
           THEN 'dominant_partition'
         ELSE 'ok'
       END AS verdict
FROM agg ORDER BY tbl, col
""",
)
def q_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-column advisor: for each candidate layout column
    (events.event_type, documents.source, documents.lang), the
    distinct-count / dominant-share / skew profile and a threshold
    verdict — the measurement that should precede every
    `partitionBy()` decision at 100 TB, where a bad choice is nearly
    irreversible (too few partitions caps parallelism and DPP; too
    many small-files the lake and drowns the metastore; one dominant
    value re-creates the single-task straggler partition pruning was
    supposed to kill). q_scan_partition_pruned and q_join_dpp PROVE
    pruning works on a given layout; this says which layout to build.

    Scale shape: one map-combinable (table, column, value) reduce per
    candidate (a union of three aggregate-first frames, each output
    bounded by that column's cardinality), then a trivially bounded
    per-candidate rollup. Exact integers; two divisions per candidate
    row.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.lit("events").alias("tbl"),
        F.lit("event_type").alias("col"),
        F.col("event_type").alias("val"),
    )
    ds = load_table(spark, sf_dir, "documents")
    cand = ev.unionAll(
        ds.select(
            F.lit("documents").alias("tbl"),
            F.lit("source").alias("col"),
            F.col("source").alias("val"),
        )
    ).unionAll(
        ds.select(
            F.lit("documents").alias("tbl"),
            F.lit("lang").alias("col"),
            F.col("lang").alias("val"),
        )
    )
    per = cand.groupBy("tbl", "col", "val").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    agg = per.groupBy("tbl", "col").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_part_rows"),
    )
    max_share = F.col("max_part_rows") * 1.0 / F.col("n_rows")
    skew = F.col("max_part_rows") * 1.0 / (
        F.col("n_rows") * 1.0 / F.col("n_distinct")
    )
    verdict = (
        F.when(F.col("n_distinct") < _PA_MIN_PARTS, "too_few_partitions")
        .when(F.col("n_distinct") > _PA_MAX_PARTS, "too_many_partitions")
        .when(max_share > _PA_MAX_SHARE, "dominant_partition")
        .otherwise("ok")
    )
    return agg.select(
        "tbl",
        "col",
        "n_distinct",
        "n_rows",
        F.round(max_share, 6).alias("max_share"),
        F.round(skew, 6).alias("skew_ratio"),
        verdict.alias("verdict"),
    ).orderBy("tbl", "col")


_FP_TARGET_BYTES = 128 * 1024 * 1024   # lake-standard target file size
_FP_OVERHEAD_NUM, _FP_OVERHEAD_DEN = 12, 10  # ×1.2 serialization factor


@query(
    "q_layout_file_plan",
    # Byte estimates, file counts and rows-per-file are pure integer
    # arithmetic (the ×1.2 overhead is an exact integer 12/10 scale,
    # ceil via (a + b − 1) div b); the only float is the fill-ratio
    # division.
    oracle=f"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS raw_bytes
  FROM documents GROUP BY source
),
plan AS (
  SELECT source, n_docs, raw_bytes,
         raw_bytes * {_FP_OVERHEAD_NUM} // {_FP_OVERHEAD_DEN} AS est_bytes
  FROM per
)
SELECT source, n_docs, est_bytes,
       CAST(greatest(1, (est_bytes + {_FP_TARGET_BYTES} - 1)
                        // {_FP_TARGET_BYTES}) AS BIGINT) AS n_files,
       CAST(n_docs // greatest(1, (est_bytes + {_FP_TARGET_BYTES} - 1)
                                  // {_FP_TARGET_BYTES}) AS BIGINT)
         AS rows_per_file,
       round(est_bytes * 1.0
             / (greatest(1, (est_bytes + {_FP_TARGET_BYTES} - 1)
                            // {_FP_TARGET_BYTES})
                * {_FP_TARGET_BYTES}), 6) AS fill_ratio,
       (est_bytes * 4 < {_FP_TARGET_BYTES}) AS underfilled
FROM plan ORDER BY source
""",
)
def q_layout_file_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-file plan per source partition: estimated serialized
    bytes (×1.2 overhead on raw content), file count at the 128 MB
    lake target, rows per file, fill ratio, and the underfilled flag —
    the arithmetic behind every `repartition(n)` before a partitioned
    write at 100 TB: too many files drowns the namenode/metastore and
    makes every downstream scan pay open-file latency; too few caps
    read parallelism. q_layout_advisor picks the partition COLUMN;
    this sizes the files INSIDE each partition (its underfilled flag
    is the "merge these partitions into one writer task" signal).

    Scale shape: one map-combinable per-source reduce; the plan is
    integer arithmetic on |sources| rows (ceil as (a+b−1) div b, the
    overhead factor as an exact 12/10 integer scale — no float bytes).
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("raw_bytes"),
    )
    est = F.expr(
        f"raw_bytes * {_FP_OVERHEAD_NUM} div {_FP_OVERHEAD_DEN}"
    ).alias("est_bytes")
    plan = per.select("source", "n_docs", est)
    n_files = F.greatest(
        F.lit(1),
        F.expr(
            f"(est_bytes + {_FP_TARGET_BYTES} - 1) div {_FP_TARGET_BYTES}"
        ),
    )
    return plan.select(
        "source",
        "n_docs",
        "est_bytes",
        n_files.cast("long").alias("n_files"),
        F.expr(
            f"n_docs div greatest(1, (est_bytes + {_FP_TARGET_BYTES} - 1) "
            f"div {_FP_TARGET_BYTES})"
        ).cast("long").alias("rows_per_file"),
        F.round(
            F.col("est_bytes") * 1.0 / (n_files * _FP_TARGET_BYTES), 6
        ).alias("fill_ratio"),
        (F.col("est_bytes") * 4 < _FP_TARGET_BYTES).alias("underfilled"),
    ).orderBy("source")
