"""Layout-operator tests: bucketed co-located joins, salted skew joins.

These assert the SCALE property (plan shape), not just result equality —
a bucketed join that silently re-shuffles would still return correct
rows, so correctness alone can't catch the regression that matters at
100 TB.
"""

from __future__ import annotations

import contextlib
import pathlib

from pyspark.sql import functions as F

from asyncdatapipeline_spark.operators import layout
from asyncdatapipeline_spark.operators.layout import (
    ensure_bucketed_tables,
    salted_join,
)
from asyncdatapipeline_spark.sources.tables import load_table, no_scan_repair


def _formatted_plan(spark, df) -> str:
    return spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ot, ct = ensure_bucketed_tables(spark, sf_dir)
        o, c = spark.table(ot), spark.table(ct)
        joined = o.join(c, o.o_custkey == c.c_custkey)
        plan = _formatted_plan(spark, joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_join_matches_plain_join(spark, sf_dir):
    ot, ct = ensure_bucketed_tables(spark, sf_dir)
    bucketed = (
        spark.table(ot)
        .join(spark.table(ct), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    plain = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_matches_plain_join(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    salted = salted_join(e, c, "user_id", "c_custkey").select(
        "event_id", "c_custkey"
    )
    plain = e.join(c, e.user_id == c.c_custkey).select("event_id", "c_custkey")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    assert "__salt" not in salted.columns


def test_partition_pruned_scan(spark, sf_dir):
    from asyncdatapipeline_spark.operators.layout import ensure_partitioned_events

    path = ensure_partitioned_events(spark, sf_dir)
    e = spark.read.parquet(path)
    n_days = e.select("event_date").distinct().count()
    assert n_days > 1, "fixture events span one day; pruning test is vacuous"
    first_day = e.select(F.min("event_date")).first()[0]
    pruned = e.filter(F.col("event_date") == F.lit(first_day))
    plan = _formatted_plan(spark, pruned)
    assert "PartitionFilters: [" in plan and "event_date" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0], "date filter did not become a partition filter"
    # the filter must NOT appear as a row-level data filter
    assert pruned.count() < e.count()


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """The salted big side of one hot key must land in >1 shuffle
    partition — the whole point of salting."""
    e = load_table(spark, sf_dir, "events")
    hot = e.groupBy("user_id").count().orderBy(F.desc("count")).first()[0]
    one_key = e.filter(F.col("user_id") == hot)
    salted = one_key.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(8)).cast("int"),
    )
    n_salts = salted.select("__salt").distinct().count()
    assert n_salts > 1


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling (enabled in the session factory) must
    split a pathologically hot join key at runtime — the automatic
    complement to the explicit salting of salted_join. Thresholds are
    lowered so the 200k-row fixture triggers the same re-plan a 100 TB
    hot key would."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = (
            spark.range(0, 200_000)
            .withColumn(
                "k",
                F.when(F.col("id") % 2 == 0, 7).otherwise(F.pmod("id", 1000)),
            )
            .withColumn("pay", F.concat(F.lit("x" * 64), F.col("id").cast("string")))
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k2"), F.lit("dim").alias("d")
        )
        j = big.join(small, F.col("k") == F.col("k2"))
        assert len(j.collect()) == 200_000
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "isFinalPlan=true" in plan
        assert plan.count("skew=true") >= 1, "AQE did not split the hot key"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_compact_dataset_small_files(spark, sf_dir, tmp_path):
    """A 64-file dataset compacts to the byte-derived file count with
    identical contents; the source survives a crash (write-then-swap)."""
    from asyncdatapipeline_spark.operators.layout import compact_dataset
    from asyncdatapipeline_spark.sources.tables import load_table

    path = str(tmp_path / "shattered")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(64).write.parquet(path)
    import pathlib

    assert len(list(pathlib.Path(path).rglob("*.parquet"))) >= 64
    before = orders.count()
    n_files = compact_dataset(spark, path, target_file_mb=256)
    assert n_files == 1  # sf0.001 orders ≪ 256 MB
    after = spark.read.parquet(path)
    assert after.count() == before
    assert not pathlib.Path(path + ".compact-tmp").exists()
    assert not pathlib.Path(path + ".pre-compact").exists()


def test_rollup_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Continuous-aggregate maintenance: building the daily rollup from
    N-1 days then folding in the last day yields exactly the totals of
    a full rebuild (decimal partials merge associatively)."""
    from pyspark.sql import functions as F

    from asyncdatapipeline_spark.operators.layout import append_day_to_rollup
    from asyncdatapipeline_spark.operators._util import DEC
    from asyncdatapipeline_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    last_day = events.select(F.max(F.to_date("ts"))).first()[0]
    head = events.filter(F.to_date("ts") != F.lit(last_day))
    tail = events.filter(F.to_date("ts") == F.lit(last_day))

    path = str(tmp_path / "rollup_1d")
    (
        head.groupBy(F.to_date("ts").alias("event_date"), F.col("event_type"))
        .agg(
            F.sum(F.col("value").cast(DEC)).alias("sum_value_dec"),
            F.count(F.lit(1)).alias("n"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    append_day_to_rollup(spark, path, tail)

    merged = {
        r["event_type"]: (r["sum_value"], r["n_events"])
        for r in spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.sum("sum_value_dec").cast("double").alias("sum_value"),
            F.sum("n").alias("n_events"),
        )
        .collect()
    }
    direct = {
        r["event_type"]: (r["sum_value"], r["n_events"])
        for r in events.groupBy("event_type")
        .agg(
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert merged == direct


def test_partitioned_events_layout_ignores_scan_repair_context(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The events-by-day layout is shared: whichever query reaches it
    first builds it, q_join_dpp (``scan_repair=False``) among them, so
    its files must not depend on the builder's scan-repair context.
    Runs at sf0.01 because sf0.001 events (1,000 rows) sit below the
    repair's 2,000-row floor, where both contexts agree trivially."""
    sf01 = str(pathlib.Path(sf_dir).with_name("sf0.01"))

    def n_files(layout_dir, ctx) -> int:
        monkeypatch.setattr(layout, "_LAYOUT_DIR", layout_dir)
        with ctx:
            path = layout.ensure_partitioned_events(spark, sf01)
        return len(list(pathlib.Path(path).rglob("*.parquet")))

    repaired = n_files(tmp_path / "default", contextlib.nullcontext())
    assert repaired == n_files(tmp_path / "opted_out", no_scan_repair())
