"""Corpus-curation filters for LLM training-data pipelines (north-star
extensions beyond SURVEY.md §2B: benchmark decontamination, repetition
signals, deterministic train/valid/test splitting).

These are the passes a real pretraining pipeline runs between scoring
(llm/text.py) and packing (llm/packing.py):

- **decontamination**: drop corpus documents that overlap an evaluation
  benchmark (n-gram collision against the eval set) — leaving them in
  inflates downstream eval numbers. The eval set is tiny by construction,
  so at 100 TB this is a broadcast join against the corpus scan: the
  corpus never shuffles.
- **repetition signals**: Gopher-style intra-document repetition
  fractions (duplicate word-2-gram share, most-frequent-word share) —
  row-local codegen expressions, zero shuffle at any size.
- **hash split**: a stable md5-derived train/valid/test assignment —
  reproducible across engines, runs, and partitionings (never
  ``rand()``, which changes under retry/reorder).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table
from asyncdatapipeline_spark.llm.dedup import _shingle_array

# Deterministic pseudo eval set: every 97th doc plays the benchmark. In
# production this is an external table of eval-suite documents; the
# modulus keeps the fixture self-contained while preserving the shape
# (tiny eval side vs. the full corpus).
_BENCH_MOD = 97
# A document sharing >= 10% of its 3-gram shingles with the eval set is
# flagged. (Real pipelines key on 8-13-gram collisions; the fixture docs
# are short, so 3-grams keep the test signal non-degenerate.)
_CONTAM_THRESHOLD = 0.10


@query(
    "q_text_decontam",
    oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
  FROM ws WHERE len(w) >= 3
),
bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
),
corpus AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN len(list_distinct(list_transform(
                     generate_series(1, len(w) - 2),
                     i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])))
              ELSE 0 END AS n_shingles
  FROM ws WHERE doc_id % {_BENCH_MOD} != 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n_hit
  FROM sh s JOIN bench b USING (shingle)
  WHERE s.doc_id % {_BENCH_MOD} != 0
  GROUP BY s.doc_id
)
SELECT c.doc_id, c.n_shingles,
       coalesce(h.n_hit, 0) AS n_hit,
       CASE WHEN c.n_shingles > 0
            THEN round(coalesce(h.n_hit, 0) * 1.0 / c.n_shingles, 6)
            ELSE 0.0 END AS contamination,
       CASE WHEN c.n_shingles > 0
            THEN coalesce(h.n_hit, 0) * 1.0 / c.n_shingles
                 >= {_CONTAM_THRESHOLD}
            ELSE FALSE END AS contaminated
FROM corpus c LEFT JOIN hits h USING (doc_id)
""",
)
def q_text_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per corpus doc, the fraction of its
    distinct 3-gram shingles that collide with the eval set's shingles
    (north-star curation family).

    The eval side is aggregated to a DISTINCT shingle set and broadcast
    — eval suites are KBs-to-MBs while the corpus is the 100 TB side, so
    the corpus streams through a broadcast hash join (no corpus shuffle,
    no skew surface). The per-doc hit count then aggregates on doc_id,
    which is the corpus's natural key — at scale that aggregation is
    map-side-combinable and never hot. Same shingle definition as the
    dedup family (llm/dedup.py _shingle_array), so one shingling pass
    can feed both at ingest.
    """
    d = load_table(spark, sf_dir, "documents")
    # One-file fixture corpus → one input partition; shingling is the
    # CPU-bound step and feeds both branches below, so spread it first
    # (same sizing as q_dedup_minhash). At 100 TB the corpus arrives in
    # thousands of splits and this repartition is dropped.
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    d = d.repartition(n_part)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    sh = d.select("doc_id", F.explode(_shingle_array(F.col("text"))).alias("shingle"))
    bench = sh.filter(is_bench).select("shingle").distinct()
    corpus = d.filter(~is_bench).select(
        "doc_id", F.size(_shingle_array(F.col("text"))).alias("n_shingles")
    )
    hits = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    frac = F.col("n_hit") / F.col("n_shingles")
    return (
        corpus.join(hits, "doc_id", "left")
        .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)))
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            F.when(F.col("n_shingles") > 0, F.round(frac, 6))
            .otherwise(0.0)
            .alias("contamination"),
            F.when(F.col("n_shingles") > 0, frac >= _CONTAM_THRESHOLD)
            .otherwise(F.lit(False))
            .alias("contaminated"),
        )
    )


# Gopher-style flag thresholds (Rae et al. 2021 use 0.2 for the
# top-2-gram fraction and a family of duplicate-n-gram caps; one pair of
# knobs is enough to demonstrate the shape).
_REP_TOP_WORD_MAX = 0.20
_REP_DUP_2GRAM_MAX = 0.30


def _rep_fracs(textcol):
    """(n_words, dup_2gram_frac, top_word_frac) as rounded expressions —
    shared by q_text_repetition and the composed curation pipeline so
    both apply the identical flag rule.

    The max word frequency is the longest equal-run in the SORTED word
    array — an O(n log n) sort plus one O(n) fold. The naive
    per-distinct-word recount (``transform(array_distinct(w), d ->
    size(filter(w, x -> x = d)))``) is O(|vocab|·n) per row in
    interpreted higher-order-function eval: measured 8.4s vs 0.9s for
    the full q_text_repetition at sf0.1. (The DuckDB oracle keeps the
    naive form — only the VALUE is contracted, not the algorithm.)
    """
    w = F.split(textcol, " ")
    n = F.size(w)
    # 2-grams via zip_with over two slices (native array ops) rather
    # than an element_at-by-index transform, and let-bound ONCE via the
    # single-element-transform trick (see dedup.py _simhash_fp_sql's
    # CollapseProject note): referencing g2 three times inline (guard,
    # distinct, divisor) re-materializes the whole array per reference —
    # measured 6.2s vs 2.3s for this predicate at sf0.1.
    g2 = F.when(
        n >= 2,
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup2 = F.element_at(
        F.transform(
            F.array(F.struct(g2.alias("g"))),
            lambda s: F.when(
                F.size(s["g"]) > 0,
                F.round(
                    F.lit(1.0)
                    - F.size(F.array_distinct(s["g"])) / F.size(s["g"]),
                    6,
                ),
            ).otherwise(0.0),
        ),
        1,
    )

    def run_step(acc, x):
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(1)
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top_cnt = F.aggregate(
        F.array_sort(w),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        run_step,
        lambda acc: acc["best"],
    )
    topw = F.when(n > 0, F.round(top_cnt / n, 6)).otherwise(0.0)
    return n, dup2, topw


@query(
    "q_text_repetition",
    oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
g AS (
  SELECT doc_id, w, len(w) AS n,
         CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i + 1])
              ELSE [] END AS g2
  FROM ws
),
m AS (
  SELECT doc_id, n,
         CASE WHEN len(g2) > 0
              THEN round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 6)
              ELSE 0.0 END AS dup_2gram_frac,
         CASE WHEN n > 0
              THEN round(list_max(list_transform(list_distinct(w),
                     d -> len(list_filter(w, x -> x = d)))) * 1.0 / n, 6)
              ELSE 0.0 END AS top_word_frac
  FROM g
)
SELECT doc_id, n AS n_words, dup_2gram_frac, top_word_frac,
       (top_word_frac > {_REP_TOP_WORD_MAX}
        OR dup_2gram_frac > {_REP_DUP_2GRAM_MAX}) AS flagged_repetitive
FROM m
""",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (Gopher-style quality filters):
    duplicate word-2-gram fraction and most-frequent-word fraction, with
    a combined flag (north-star curation family).

    Entirely row-local built-in expressions — one whole-stage-codegen
    projection over the corpus scan, zero shuffle at any size. The
    top-word count is an O(|vocab|·|words|) per-row fold, bounded by
    document length — CPU-parallel, never a memory risk.
    """
    d = load_table(spark, sf_dir, "documents")
    n, dup2, topw = _rep_fracs(F.col("text"))
    return d.select(
        "doc_id",
        n.alias("n_words"),
        dup2.alias("dup_2gram_frac"),
        topw.alias("top_word_frac"),
        (
            (topw > _REP_TOP_WORD_MAX) | (dup2 > _REP_DUP_2GRAM_MAX)
        ).alias("flagged_repetitive"),
    )


# 256-bucket md5 split: [0, 230) train / [230, 243) valid / [243, 256)
# test ≈ 89.8 / 5.1 / 5.1.
_SPLIT_TRAIN_LT = 230
_SPLIT_VALID_LT = 243


@query(
    "q_split_hash", scan_repair=False,
    oracle=f"""
SELECT doc_id,
       ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::UINTEGER AS bucket,
       CASE
         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::UINTEGER
              < {_SPLIT_TRAIN_LT} THEN 'train'
         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::UINTEGER
              < {_SPLIT_VALID_LT} THEN 'valid'
         ELSE 'test'
       END AS split
FROM documents
""",
)
def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment from md5(doc_id)'s
    first byte (north-star curation family).

    Hash-based splitting is the only correct way to split a distributed
    corpus: ``rand()`` re-rolls under task retry and changes with
    partitioning, ``row_number`` imposes a global sort. The md5 byte is
    stable across engines (the oracle recomputes it bit-for-bit), runs,
    partition counts, and future corpus appends — a doc's split never
    changes when the corpus grows, which is what keeps eval sets
    uncontaminated across dataset versions. Map-only codegen; at scale
    the split column is written at ingest and downstream reads partition
    on it.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", *split_exprs())


def split_exprs() -> list:
    """Split-assignment columns as reusable row-local expressions —
    shared by the batch query (q_split_hash) and the streaming curation
    gate (streaming/curation.py). Being a pure function of doc_id is
    what makes the assignment identical per micro-batch, per retry, and
    per corpus append."""
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    return [
        bucket.alias("bucket"),
        F.when(bucket < _SPLIT_TRAIN_LT, "train")
        .when(bucket < _SPLIT_VALID_LT, "valid")
        .otherwise("test")
        .alias("split"),
    ]


_SHINGLES_DUCK = (
    "list_transform(generate_series(1, len(w) - 2), "
    "i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])"
)


@query(
    "q_curation_full",
    # The oracle replays every stage in SQL: same quality gate as
    # q_curation_pipeline, same decontam rule as q_text_decontam, same
    # repetition flag as q_text_repetition, same dedup/split/pack rules
    # as q_dedup_exact / q_split_hash / q_pack_sequences.
    oracle=f"""
WITH q AS (
  SELECT doc_id, text, source,
         string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS nw,
         len(list_filter(string_split(text, ' '),
             x -> list_contains(['the', 'a', 'of', 'and', 'in'], x))) AS n_stop
  FROM documents
),
qual AS (
  SELECT * FROM q
  WHERE nw BETWEEN 20 AND 1000 AND n_stop * 1.0 / nw BETWEEN 0.001 AND 0.6
    AND doc_id % {_BENCH_MOD} != 0
),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle
  FROM q WHERE len(w) >= 3
),
bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n_hit
  FROM sh s JOIN bench USING (shingle) JOIN qual USING (doc_id)
  GROUP BY s.doc_id
),
nsh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN len(list_distinct({_SHINGLES_DUCK}))
              ELSE 0 END AS n_shingles
  FROM qual
),
clean AS (
  SELECT qual.* FROM qual
  JOIN nsh USING (doc_id)
  LEFT JOIN hits USING (doc_id)
  WHERE n_shingles = 0
     OR coalesce(n_hit, 0) * 1.0 / n_shingles < {_CONTAM_THRESHOLD}
),
rep AS (
  SELECT *,
         CASE WHEN nw >= 2
              THEN list_transform(generate_series(1, nw - 1),
                                  i -> w[i] || ' ' || w[i + 1])
              ELSE [] END AS g2
  FROM clean
),
norep AS (
  SELECT doc_id, text, source, nw FROM rep
  WHERE NOT (
    (CASE WHEN nw > 0
          THEN round(list_max(list_transform(list_distinct(w),
                 d -> len(list_filter(w, x -> x = d)))) * 1.0 / nw, 6)
          ELSE 0.0 END) > {_REP_TOP_WORD_MAX}
    OR
    (CASE WHEN len(g2) > 0
          THEN round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 6)
          ELSE 0.0 END) > {_REP_DUP_2GRAM_MAX}
  )
),
keep AS (SELECT min(doc_id) AS doc_id FROM norep GROUP BY md5(text)),
s AS (SELECT norep.* FROM norep JOIN keep USING (doc_id)),
tr AS (
  SELECT * FROM s
  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::UINTEGER
        < {_SPLIT_TRAIN_LT}
),
o AS (
  SELECT source, doc_id, nw,
         sum(nw) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - nw AS start_off
  FROM tr
)
SELECT source,
       CAST(floor(start_off / 512) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM o
GROUP BY source, pack_id
""",
)
def q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining curation path COMPOSED into one lazy plan:
    quality gate -> benchmark decontamination -> repetition filter ->
    exact dedup -> train-split selection -> sequence packing (north-star
    flagship; supersedes q_curation_pipeline's 3-stage version with all
    six stages).

    Stage order is the scale argument: row-local gates (quality,
    repetition, split are all codegen predicates) run first and fuse
    into the scan stage; the decontam broadcast join touches only
    quality survivors; the dedup hash shuffle sees only clean docs; the
    packing window sorts only the train split. Every stage reuses the
    exact rule of its standalone operator (same constants, same rounded
    fractions), and the oracle replays all six in SQL.
    """
    from asyncdatapipeline_spark.llm.packing import _CTX_TOKENS

    d = load_table(spark, sf_dir, "documents")
    # One-file fixture corpus → one input partition; every gate below is
    # CPU-bound row-local work, so spread it first (same straggler-
    # headroom sizing as q_dedup_minhash). At 100 TB the input arrives
    # in thousands of splits and this repartition is dropped.
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    d = d.repartition(n_part)
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(x) for x in ("the", "a", "of", "and", "in")])
    nw = F.size(words)
    stop_ratio = (
        F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x)))
        * F.lit(1.0)
        / nw
    )
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    qual = d.filter(
        nw.between(20, 1000) & stop_ratio.between(0.001, 0.6) & ~is_bench
    ).select("doc_id", "text", "source", nw.alias("nw"))

    # DAG discipline: every DataFrame below is referenced exactly ONCE
    # downstream (bench excepted — it's a broadcast of a tiny set).
    # Spark re-evaluates a re-referenced DataFrame's whole upstream
    # chain (no cross-reference CSE), so a diamond per stage doubles
    # cost per stage — the first cut of this pipeline (hits built from
    # qual, dedup via groupBy + semi join back to the same frame) ran
    # 23s at sf0.1 vs ~2s now, purely from re-computation. At 100 TB the
    # same shape would double the corpus scan per stage.
    #
    # decontam: benchmark shingles from the RAW corpus (membership is
    # independent of the quality gate). n_hit is computed over ALL
    # non-benchmark docs (not just quality survivors) so the hits
    # subtree shares nothing with qual; the left join keeps exactly the
    # survivors' counts, identical result.
    sh_all = d.select(
        "doc_id", F.explode(_shingle_array(F.col("text"))).alias("shingle")
    )
    bench = sh_all.filter(is_bench).select("shingle").distinct()
    hits = (
        sh_all.filter(~is_bench)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    # let-bind n_shingles: the withColumn would be CollapseProject'd
    # into the filter, re-materializing the shingle array per reference
    n_shingles = F.size(_shingle_array(F.col("text")))
    contam_ok = F.element_at(
        F.transform(
            F.array(
                F.struct(
                    n_shingles.alias("ns"),
                    F.coalesce("n_hit", F.lit(0)).alias("h"),
                )
            ),
            lambda s: (s["ns"] == 0)
            | (s["h"] / s["ns"] < _CONTAM_THRESHOLD),
        ),
        1,
    )
    clean = qual.join(hits, "doc_id", "left").filter(contam_ok)

    _, dup2, topw = _rep_fracs(F.col("text"))
    norep = clean.filter(
        ~((topw > _REP_TOP_WORD_MAX) | (dup2 > _REP_DUP_2GRAM_MAX))
    ).select("doc_id", "text", "source", "nw")

    # exact dedup as ONE window pass (keep min doc_id per content hash)
    # — same survivor set as q_dedup_exact's groupBy(min) + semi join,
    # without referencing norep twice.
    dw = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    survivors = (
        norep.withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    train = survivors.filter(bucket < _SPLIT_TRAIN_LT)

    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offs = train.withColumn("start_off", F.sum("nw").over(w) - F.col("nw"))
    return (
        offs.groupBy(
            "source",
            F.floor(F.col("start_off") / _CTX_TOKENS).alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "q_split_group",
    oracle=f"""
SELECT doc_id, source,
  ('0x' || substr(md5(source), 1, 2))::UINTEGER AS group_bucket,
  CASE
    WHEN ('0x' || substr(md5(source), 1, 2))::UINTEGER < {_SPLIT_TRAIN_LT}
      THEN 'train'
    WHEN ('0x' || substr(md5(source), 1, 2))::UINTEGER < {_SPLIT_VALID_LT}
      THEN 'valid'
    ELSE 'test'
  END AS split
FROM documents
ORDER BY doc_id
""",
)
def q_split_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-level train/valid/test split — the leakage-safe sibling of
    q_split_hash: the split key is md5(source), not md5(doc_id), so
    every document of a source lands in the SAME split and near-
    duplicate documents within a source can never straddle the
    train/eval boundary (the contamination mode a doc-level split
    invites; same reason user-level splits are mandatory for
    recommendation data).

    Same md5-bucket contract as q_split_hash (deterministic under
    retry / repartition / append; map-only, no shuffle, no
    group-assignment table to join). The trade, documented: split
    SHARES are lumpy in the number of groups, not the number of
    documents — with few large sources the realized train share can
    drift far from 230/256, which is the correct price of zero
    leakage; shares converge as group count grows.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("source")), 1, 2), 16, 10).cast(
        "int"
    )
    return (
        d.select(
            "doc_id",
            "source",
            bucket.alias("group_bucket"),
            F.when(bucket < _SPLIT_TRAIN_LT, "train")
            .when(bucket < _SPLIT_VALID_LT, "valid")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_curation_report",
    # The oracle replays the same staged CTEs as q_curation_full and
    # emits the funnel counts from them — all-integer, no tolerance.
    oracle=f"""
WITH q AS (
  SELECT doc_id, text, source,
         string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS nw,
         len(list_filter(string_split(text, ' '),
             x -> list_contains(['the', 'a', 'of', 'and', 'in'], x))) AS n_stop
  FROM documents
),
qual AS (
  SELECT * FROM q
  WHERE nw BETWEEN 20 AND 1000 AND n_stop * 1.0 / nw BETWEEN 0.001 AND 0.6
    AND doc_id % {_BENCH_MOD} != 0
),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle
  FROM q WHERE len(w) >= 3
),
bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n_hit
  FROM sh s JOIN bench USING (shingle) JOIN qual USING (doc_id)
  GROUP BY s.doc_id
),
nsh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN len(list_distinct({_SHINGLES_DUCK}))
              ELSE 0 END AS n_shingles
  FROM qual
),
clean AS (
  SELECT qual.* FROM qual
  JOIN nsh USING (doc_id)
  LEFT JOIN hits USING (doc_id)
  WHERE n_shingles = 0
     OR coalesce(n_hit, 0) * 1.0 / n_shingles < {_CONTAM_THRESHOLD}
),
rep AS (
  SELECT *,
         CASE WHEN nw >= 2
              THEN list_transform(generate_series(1, nw - 1),
                                  i -> w[i] || ' ' || w[i + 1])
              ELSE [] END AS g2
  FROM clean
),
norep AS (
  SELECT doc_id, text, source, nw FROM rep
  WHERE NOT (
    (CASE WHEN nw > 0
          THEN round(list_max(list_transform(list_distinct(w),
                 d -> len(list_filter(w, x -> x = d)))) * 1.0 / nw, 6)
          ELSE 0.0 END) > {_REP_TOP_WORD_MAX}
    OR
    (CASE WHEN len(g2) > 0
          THEN round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 6)
          ELSE 0.0 END) > {_REP_DUP_2GRAM_MAX}
  )
),
keep AS (SELECT min(doc_id) AS doc_id FROM norep GROUP BY md5(text)),
tr AS (
  SELECT k.doc_id FROM keep k
  WHERE ('0x' || substr(md5(k.doc_id::VARCHAR), 1, 2))::UINTEGER
        < {_SPLIT_TRAIN_LT}
),
c AS (
  SELECT (SELECT count(*) FROM documents) AS n_total,
         (SELECT count(*) FROM qual) AS n_q,
         (SELECT count(*) FROM clean) AS n_qc,
         (SELECT count(*) FROM norep) AS n_qcr,
         (SELECT count(*) FROM keep) AS n_dedup,
         (SELECT count(*) FROM tr) AS n_train
)
SELECT * FROM (
  SELECT 1 AS stage_no, 'quality' AS stage,
         CAST(n_total AS BIGINT) AS n_in,
         CAST(n_total - n_q AS BIGINT) AS n_rejected,
         CAST(n_q AS BIGINT) AS n_out FROM c
  UNION ALL
  SELECT 2, 'decontam', n_q, n_q - n_qc, n_qc FROM c
  UNION ALL
  SELECT 3, 'repetition', n_qc, n_qc - n_qcr, n_qcr FROM c
  UNION ALL
  SELECT 4, 'exact_dedup', n_qcr, n_qcr - n_dedup, n_dedup FROM c
  UNION ALL
  SELECT 5, 'train_split', n_dedup, n_dedup - n_train, n_train FROM c
) ORDER BY stage_no
""",
)
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-gate rejection funnel over the full curation path — the
    observability report every curation run ships beside its output
    ("where did my corpus go?"): one row per stage with docs in,
    rejected, and surviving, using EXACTLY the standalone operators'
    rules (same constants as q_curation_full, whose packing consumes
    this funnel's survivors).

    Shape: unlike the oracle's staged replay, the engine computes ALL
    gate flags in ONE corpus pass — each gate is a row-local codegen
    predicate, the decontam hit-count arrives by broadcast-left-join,
    and the dedup survivor is decided by one (content-hash) window
    ordered eligible-first (an eligible row ranks 1 iff it is the
    minimum-id eligible doc of its hash group — no second pass over
    the survivor set). The report aggregate then reduces everything to
    six counters; output is O(stages) rows.
    """
    d = load_table(spark, sf_dir, "documents")
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    d = d.repartition(n_part)
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(x) for x in ("the", "a", "of", "and", "in")])
    nw = F.size(words)
    stop_ratio = (
        F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x)))
        * F.lit(1.0)
        / nw
    )
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    q_ok = nw.between(20, 1000) & stop_ratio.between(0.001, 0.6) & ~is_bench

    sh_all = d.select(
        "doc_id", F.explode(_shingle_array(F.col("text"))).alias("shingle")
    )
    bench = sh_all.filter(is_bench).select("shingle").distinct()
    hits = (
        sh_all.filter(~is_bench)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_shingles = F.size(_shingle_array(F.col("text")))
    c_ok = F.element_at(
        F.transform(
            F.array(
                F.struct(
                    n_shingles.alias("ns"),
                    F.coalesce("n_hit", F.lit(0)).alias("h"),
                )
            ),
            lambda s: (s["ns"] == 0) | (s["h"] / s["ns"] < _CONTAM_THRESHOLD),
        ),
        1,
    )
    _, dup2, topw = _rep_fracs(F.col("text"))
    r_ok = ~((topw > _REP_TOP_WORD_MAX) | (dup2 > _REP_DUP_2GRAM_MAX))

    flags = (
        d.join(hits, "doc_id", "left")
        .withColumn("q_ok", q_ok)
        .withColumn("c_ok", c_ok)
        .withColumn("r_ok", r_ok)
        .withColumn("eligible", F.col("q_ok") & F.col("c_ok") & F.col("r_ok"))
    )
    # dedup decided inside the same pass: within a content-hash group,
    # eligible rows sort first, so rank 1 + eligible ⇔ the min-id
    # eligible doc of the group (q_dedup_exact's survivor rule applied
    # to the post-gate population without re-referencing it)
    dw = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
        F.col("eligible").desc(), "doc_id"
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    flags = flags.withColumn(
        "survivor", F.col("eligible") & (F.row_number().over(dw) == 1)
    ).withColumn("in_train", F.col("survivor") & (bucket < _SPLIT_TRAIN_LT))

    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    c = flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        cnt(F.col("q_ok")).alias("n_q"),
        cnt(F.col("q_ok") & F.col("c_ok")).alias("n_qc"),
        cnt(F.col("eligible")).alias("n_qcr"),
        cnt(F.col("survivor")).alias("n_dedup"),
        cnt(F.col("in_train")).alias("n_train"),
    )
    stage = lambda no, name, nin, nout: F.struct(  # noqa: E731
        F.lit(no).alias("stage_no"),
        F.lit(name).alias("stage"),
        F.col(nin).alias("n_in"),
        (F.col(nin) - F.col(nout)).alias("n_rejected"),
        F.col(nout).alias("n_out"),
    )
    return (
        c.select(
            F.explode(
                F.array(
                    stage(1, "quality", "n_total", "n_q"),
                    stage(2, "decontam", "n_q", "n_qc"),
                    stage(3, "repetition", "n_qc", "n_qcr"),
                    stage(4, "exact_dedup", "n_qcr", "n_dedup"),
                    stage(5, "train_split", "n_dedup", "n_train"),
                )
            ).alias("s")
        )
        .select("s.*")
        .orderBy("stage_no")
    )


@query(
    "q_split_time",
    # Boundaries are exact BIGINT epoch arithmetic (70% / 85% of the
    # observed span, floor division) — no float timestamps, so both
    # engines cut at the identical second.
    oracle="""
WITH t AS (
  SELECT user_id,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ep
  FROM events
),
b AS (
  SELECT min(ep) AS e0,
         min(ep) + ((max(ep) - min(ep)) * 70) // 100 AS b1,
         min(ep) + ((max(ep) - min(ep)) * 85) // 100 AS b2
  FROM t
),
tagged AS (
  SELECT CASE WHEN ep <= b1 THEN 'train'
              WHEN ep <= b2 THEN 'valid'
              ELSE 'test' END AS split,
         user_id
  FROM t CROSS JOIN b
),
su AS (SELECT DISTINCT split, user_id FROM tagged),
tr AS (SELECT user_id FROM su WHERE split = 'train'),
per AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_events FROM tagged GROUP BY split
),
usr AS (
  SELECT su.split,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN tr.user_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS users_in_train
  FROM su LEFT JOIN tr ON tr.user_id = su.user_id
  GROUP BY su.split
)
SELECT per.split, per.n_events, usr.n_users, usr.users_in_train,
       round(CAST(usr.users_in_train AS DOUBLE) / usr.n_users, 6)
         AS overlap_share
FROM per JOIN usr ON usr.split = per.split
ORDER BY per.split
""",
)
def q_split_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/valid/test split (70/85% of the observed time
    span) with a user-leakage report — the third canonical split beside
    hash-based (q_split_hash) and group-based (q_split_group): for
    forecasting and recommendation evals the model must never see the
    future, so the split axis is TIME, and the thing to audit is how
    many valid/test users also appear in train (temporal splits leak
    users by design; the report quantifies it instead of pretending).

    Scale shape: the boundary is one min/max aggregate broadcast back
    (exact BIGINT epoch arithmetic — float timestamps would cut
    different rows per engine); assignment is then map-only. The
    leakage audit and the event counts BOTH derive from one
    (split, user)-grain aggregate — users×3 rows after a single
    volume-sized partial-agg shuffle — then one LEFT join against
    train's user set; nothing event-sized is scanned or shuffled
    twice.
    """
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        "user_id",
        F.date_trunc("second", "ts").cast("long").alias("ep"),
    )
    b = F.broadcast(
        t.agg(
            F.min("ep").alias("e0"),
            (
                F.min("ep")
                + F.floor(((F.max("ep") - F.min("ep")) * 70) / 100)
            ).alias("b1"),
            (
                F.min("ep")
                + F.floor(((F.max("ep") - F.min("ep")) * 85) / 100)
            ).alias("b2"),
        )
    )
    tagged = t.crossJoin(b).select(
        F.when(F.col("ep") <= F.col("b1"), "train")
        .when(F.col("ep") <= F.col("b2"), "valid")
        .otherwise("test")
        .alias("split"),
        "user_id",
    )
    # ONE volume-sized pass: (split, user) grain with per-cell event
    # counts — n_events and the user frame both derive from it, so the
    # tagged stream is aggregated once, not scanned per metric
    su = (
        tagged.groupBy("split", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # feeds per, tr and usr branches
    )
    tr = su.filter(F.col("split") == "train").select(
        F.col("user_id").alias("tr_user")
    )
    per = su.groupBy("split").agg(F.sum("n").cast("long").alias("n_events"))
    usr = (
        su.join(tr, su.user_id == tr.tr_user, "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(
                F.when(F.col("tr_user").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("users_in_train"),
        )
    )
    return (
        per.join(usr, "split")
        .select(
            "split",
            "n_events",
            "n_users",
            "users_in_train",
            F.round(
                F.col("users_in_train").cast("double") / F.col("n_users"), 6
            ).alias("overlap_share"),
        )
        .orderBy("split")
    )


# Boilerplate gram config: a 3-gram is boilerplate within a source when
# it appears in >= _BP_MIN_DF docs AND >= _BP_MIN_SHARE of that
# source's docs. Production pipelines tune both (nav bars / license
# headers sit at high share); the fixtures' word-soup needs the low
# floor to exercise the path.
_BP_N = 3
_BP_MIN_DF = 2
_BP_MIN_SHARE = 0.05


@query(
    "q_text_boilerplate",
    # Doc frequencies and doc counts are exact integers; the only
    # floats are two integer divisions per source row. top_gram ties
    # break lexicographically (min gram among max-df grams).
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
),
pairs AS (
  SELECT DISTINCT source, doc_id,
         ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS gram
  FROM w CROSS JOIN LATERAL
    unnest(generate_series(1, len(ws) - {_BP_N - 1})) AS t(i)
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
),
dfreq AS (
  SELECT source, gram, CAST(count(*) AS BIGINT) AS df
  FROM pairs GROUP BY 1, 2
),
boiler AS (
  SELECT d.source, d.gram, d.df
  FROM dfreq d JOIN per_src p USING (source)
  WHERE d.df >= {_BP_MIN_DF} AND d.df * 1.0 / p.n_docs >= {_BP_MIN_SHARE}
),
bg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_boiler_grams,
         max(df) AS top_df
  FROM boiler GROUP BY source
),
btop AS (
  SELECT b.source, g.n_boiler_grams, g.top_df, min(b.gram) AS top_gram
  FROM boiler b JOIN bg g ON b.source = g.source AND b.df = g.top_df
  GROUP BY 1, 2, 3
),
bdocs AS (
  SELECT p.source, CAST(count(DISTINCT p.doc_id) AS BIGINT) AS boiler_docs
  FROM pairs p JOIN boiler b ON p.source = b.source AND p.gram = b.gram
  GROUP BY 1
)
SELECT s.source, s.n_docs,
       COALESCE(t.n_boiler_grams, 0) AS n_boiler_grams,
       COALESCE(t.top_df, 0) AS top_df,
       t.top_gram,
       COALESCE(d.boiler_docs, 0) AS boiler_docs,
       round(COALESCE(d.boiler_docs, 0) * 1.0 / s.n_docs, 6)
         AS boiler_doc_share
FROM per_src s
LEFT JOIN btop t USING (source)
LEFT JOIN bdocs d USING (source)
ORDER BY s.source
""",
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate-gram census: word 3-grams shared by many
    documents WITHIN a source (nav bars, license headers, scraper
    chrome, cookie banners) — the C4/RefinedWeb-class cleanup signal
    that intra-document repetition (q_text_repetition) and cross-corpus
    dedup both miss: boilerplate is repeated ACROSS documents of one
    feed while each document stays individually unique. Emits per
    source the boilerplate-gram count, the most widespread gram, and
    the share of documents carrying any — the triage dashboard that
    says which ingest feed needs a template stripper.

    Scale shape: per-doc DISTINCT gram explode (the array_distinct
    happens inside the row before the explode, so a gram repeated
    within one doc costs one pair row) → gram-keyed map-combinable doc
    frequency → threshold against broadcast per-source doc counts →
    the bounded boilerplate set joins BACK to the pair stream for the
    affected-doc count. No pair-of-docs join anywhere; the widest
    shuffle is (source, gram)-keyed and combiner-reduced. The
    boilerplate-set join is broadcast-sized by construction (it is
    capped by grams crossing the df floor, not by corpus size).
    """
    d = load_table(spark, sf_dir, "documents")
    grams_expr = (
        "element_at(transform(array(struct(split(text, ' ') as w)), "
        f"wb -> array_distinct(if(size(wb.w) >= {_BP_N}, "
        f"transform(sequence(1, size(wb.w) - {_BP_N - 1}), "
        f"i -> concat_ws(' ', slice(wb.w, i, {_BP_N}))), "
        "cast(array() as array<string>)))), 1)"
    )
    pairs = (
        d.select(
            "source", "doc_id", F.explode(F.expr(grams_expr)).alias("gram")
        )
        .localCheckpoint(eager=False)  # feeds dfreq and the re-join
    )
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    dfreq = pairs.groupBy("source", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    boiler = (
        dfreq.join(F.broadcast(per_src), "source")
        .filter(
            (F.col("df") >= _BP_MIN_DF)
            & (F.col("df") * 1.0 / F.col("n_docs") >= _BP_MIN_SHARE)
        )
        .select("source", "gram", "df")
        .localCheckpoint(eager=False)  # bounded; feeds btop and bdocs
    )
    bg = boiler.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_boiler_grams"),
        F.max("df").alias("top_df"),
    )
    btop = (
        boiler.alias("b")
        .join(
            F.broadcast(bg.alias("g")),
            (F.col("b.source") == F.col("g.source"))
            & (F.col("b.df") == F.col("g.top_df")),
        )
        .groupBy(F.col("b.source").alias("source"), "n_boiler_grams", "top_df")
        .agg(F.min("b.gram").alias("top_gram"))
    )
    bdocs = (
        pairs.join(F.broadcast(boiler), ["source", "gram"])
        .groupBy("source")
        .agg(F.count_distinct("doc_id").cast("long").alias("boiler_docs"))
    )
    return (
        per_src.join(btop, "source", "left")
        .join(bdocs, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_boiler_grams", F.lit(0)).alias("n_boiler_grams"),
            F.coalesce("top_df", F.lit(0)).alias("top_df"),
            "top_gram",
            F.coalesce("boiler_docs", F.lit(0)).alias("boiler_docs"),
            F.round(
                F.coalesce("boiler_docs", F.lit(0)) * 1.0 / F.col("n_docs"), 6
            ).alias("boiler_doc_share"),
        )
        .orderBy("source")
    )


@query(
    "q_curation_ablation",
    # Every count is an exact integer over independently-evaluated
    # rule flags (same constants as the staged funnel); shares are one
    # division each. Rules replay the staged operators' exact
    # predicates, evaluated UNCONDITIONALLY per doc.
    oracle=f"""
WITH q AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS nw,
         len(list_filter(string_split(text, ' '),
             x -> list_contains(['the', 'a', 'of', 'and', 'in'], x)))
           AS n_stop
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle
  FROM q WHERE len(w) >= 3
),
bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n_hit
  FROM sh s JOIN bench USING (shingle)
  WHERE s.doc_id % {_BENCH_MOD} != 0
  GROUP BY s.doc_id
),
nsh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN len(list_distinct({_SHINGLES_DUCK}))
              ELSE 0 END AS n_shingles
  FROM q
),
g2t AS (
  SELECT doc_id, nw, w,
         CASE WHEN nw >= 2
              THEN list_transform(generate_series(1, nw - 1),
                                  i -> w[i] || ' ' || w[i + 1])
              ELSE [] END AS g2
  FROM q
),
flags AS (
  SELECT q.doc_id,
         (q.nw BETWEEN 20 AND 1000
          AND q.n_stop * 1.0 / q.nw BETWEEN 0.001 AND 0.6
          AND q.doc_id % {_BENCH_MOD} != 0) AS q_ok,
         (q.doc_id % {_BENCH_MOD} = 0 OR nsh.n_shingles = 0
          OR coalesce(hits.n_hit, 0) * 1.0 / nsh.n_shingles
             < {_CONTAM_THRESHOLD}) AS c_ok,
         NOT (
           (CASE WHEN q.nw > 0
                 THEN round(list_max(list_transform(list_distinct(q.w),
                        d -> len(list_filter(q.w, x -> x = d))))
                      * 1.0 / q.nw, 6)
                 ELSE 0.0 END) > {_REP_TOP_WORD_MAX}
           OR
           (CASE WHEN len(g2t.g2) > 0
                 THEN round(1.0 - len(list_distinct(g2t.g2)) * 1.0
                            / len(g2t.g2), 6)
                 ELSE 0.0 END) > {_REP_DUP_2GRAM_MAX}
         ) AS r_ok
  FROM q
  JOIN nsh USING (doc_id)
  JOIN g2t USING (doc_id)
  LEFT JOIN hits USING (doc_id)
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM flags),
rows_out AS (
  SELECT 'quality' AS rule,
         CAST(count(*) FILTER (NOT q_ok) AS BIGINT) AS n_fail,
         CAST(count(*) FILTER (NOT q_ok AND c_ok AND r_ok) AS BIGINT)
           AS n_unique_fail
  FROM flags
  UNION ALL
  SELECT 'decontam',
         CAST(count(*) FILTER (NOT c_ok) AS BIGINT),
         CAST(count(*) FILTER (NOT c_ok AND q_ok AND r_ok) AS BIGINT)
  FROM flags
  UNION ALL
  SELECT 'repetition',
         CAST(count(*) FILTER (NOT r_ok) AS BIGINT),
         CAST(count(*) FILTER (NOT r_ok AND q_ok AND c_ok) AS BIGINT)
  FROM flags
  UNION ALL
  SELECT 'pass_all',
         CAST(count(*) FILTER (q_ok AND c_ok AND r_ok) AS BIGINT),
         CAST(count(*) FILTER (q_ok AND c_ok AND r_ok) AS BIGINT)
  FROM flags
)
SELECT rule, n_fail, n_unique_fail,
       round(n_fail * 1.0 / tot.n, 6) AS fail_share,
       round(n_unique_fail * 1.0 / tot.n, 6) AS unique_share
FROM rows_out CROSS JOIN tot
ORDER BY rule
""",
)
def q_curation_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule ABLATION of the curation gates: for each filter
    (quality, decontam, repetition), how many documents fail it at
    all, and how many fail ONLY it — the marginal-attribution view the
    staged funnel (q_curation_report) structurally can't give: a
    funnel charges each rejection to the FIRST gate that fires, so a
    rule late in the chain always looks cheap. Unique-failure counts
    are what rule-pruning decisions need ("repetition uniquely rejects
    0.2% — is it worth its corpus pass?"), and the pass_all row ties
    the ablation back to the funnel's survivor count.

    Scale shape: same single-pass flag computation as the funnel
    (row-local quality/repetition predicates; decontam via the
    broadcast benchmark-shingle join — here evaluated UNCONDITIONALLY
    so rules are independent), then ONE conditional aggregate to four
    output rows. No per-rule corpus re-scan.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(x) for x in ("the", "a", "of", "and", "in")])
    nw = F.size(words)
    stop_ratio = (
        F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x)))
        * F.lit(1.0)
        / nw
    )
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    q_ok = nw.between(20, 1000) & stop_ratio.between(0.001, 0.6) & ~is_bench

    sh_all = d.select(
        "doc_id", F.explode(_shingle_array(F.col("text"))).alias("shingle")
    )
    bench = sh_all.filter(is_bench).select("shingle").distinct()
    hits = (
        sh_all.filter(~is_bench)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_shingles = F.size(_shingle_array(F.col("text")))
    c_ok = is_bench | F.element_at(
        F.transform(
            F.array(
                F.struct(
                    n_shingles.alias("ns"),
                    F.coalesce("n_hit", F.lit(0)).alias("h"),
                )
            ),
            lambda s: (s["ns"] == 0) | (s["h"] / s["ns"] < _CONTAM_THRESHOLD),
        ),
        1,
    )
    _, dup2, topw = _rep_fracs(F.col("text"))
    r_ok = ~((topw > _REP_TOP_WORD_MAX) | (dup2 > _REP_DUP_2GRAM_MAX))

    flags = (
        d.join(hits, "doc_id", "left")
        .select(q_ok.alias("q_ok"), c_ok.alias("c_ok"), r_ok.alias("r_ok"))
    )
    cnt = lambda c: F.sum(c.cast("long")).cast("long")  # noqa: E731
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cnt(~F.col("q_ok")).alias("qf"),
        cnt(~F.col("q_ok") & F.col("c_ok") & F.col("r_ok")).alias("qu"),
        cnt(~F.col("c_ok")).alias("cf"),
        cnt(~F.col("c_ok") & F.col("q_ok") & F.col("r_ok")).alias("cu"),
        cnt(~F.col("r_ok")).alias("rf"),
        cnt(~F.col("r_ok") & F.col("q_ok") & F.col("c_ok")).alias("ru"),
        cnt(F.col("q_ok") & F.col("c_ok") & F.col("r_ok")).alias("pa"),
    )
    row = lambda name, f, u: F.struct(  # noqa: E731
        F.lit(name).alias("rule"),
        F.col(f).alias("n_fail"),
        F.col(u).alias("n_unique_fail"),
    )
    return (
        agg.select(
            "n",
            F.explode(
                F.array(
                    row("quality", "qf", "qu"),
                    row("decontam", "cf", "cu"),
                    row("repetition", "rf", "ru"),
                    row("pass_all", "pa", "pa"),
                )
            ).alias("s"),
        )
        .select(
            F.col("s.rule").alias("rule"),
            F.col("s.n_fail").alias("n_fail"),
            F.col("s.n_unique_fail").alias("n_unique_fail"),
            F.round(F.col("s.n_fail") * 1.0 / F.col("n"), 6).alias(
                "fail_share"
            ),
            F.round(F.col("s.n_unique_fail") * 1.0 / F.col("n"), 6).alias(
                "unique_share"
            ),
        )
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# Stratified split: EXACT per-stratum train fraction (vs q_split_hash's
# approximate thresholding)
# ---------------------------------------------------------------------------

_STRAT_TRAIN_PCT = 80  # integer percent — rank arithmetic stays exact


@query(
    "q_split_stratified",
    # Rank device: 60-bit positive md5 key (15 hex chars — the
    # llm/dedup shingle-hash contract), per-lang cumulative count,
    # train = rank <= ceil(0.8·n) in pure integer arithmetic.
    oracle=f"""
WITH k AS (
  SELECT lang, doc_id, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
           ::UBIGINT::BIGINT AS hk
  FROM documents
),
r AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk,
         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM k
),
s AS (
  SELECT lang, n_chars, n,
         CASE WHEN rk <= (n * {_STRAT_TRAIN_PCT} + 99) // 100
              THEN 'train' ELSE 'test' END AS split
  FROM r
)
SELECT lang, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(count(*) AS DOUBLE) / max(n), 6) AS frac,
       round(CAST(sum(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE)
             / count(*), 6) AS avg_chars
FROM s GROUP BY lang, split
ORDER BY lang, split
""",
)
def q_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified train/test split: within each language stratum,
    rank docs by a stable md5 key and take the first ceil(80%·n) as
    train — every stratum lands the target fraction to the row (the
    guarantee q_split_hash's threshold cannot give: hash thresholding
    is only *expected*-fraction, and a small stratum can miss by
    several points, starving eval of minority languages). The key is a
    pure function of doc_id, so the split is reproducible across runs,
    retries, and repartitionings — never ``rand()``.

    Scale shape: the per-stratum rank is ``dist_cumsum`` (equi-depth
    value bucketing + triangular offset join), NOT a per-lang window —
    a window partitioned only by lang puts an entire stratum (data-
    sized at 100 TB) in one task; the device keeps every partition
    ~1/nparts of the data regardless of stratum skew. One boundary
    collect (≤31 scalars, sanctioned class), one hash shuffle, then a
    bounded (lang, split) grid aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    hk = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10)"
        " as bigint)"
    )
    k = d.select(
        "lang", "doc_id", "n_chars", hk.alias("hk"), F.lit(1).alias("cnt")
    )
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    c = dist_cumsum(k, "hk", ["cnt"], part_cols=["lang"], tiebreak=["doc_id"])
    n = F.broadcast(
        d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = c.join(n, "lang").select(
        "lang",
        "n_chars",
        "n",
        F.when(
            # Integer division (div), not /: Spark's / on longs is a
            # DOUBLE, which drifts from the oracle's pure-integer
            # (n*80+99)//100 as n approaches ~1e16; div keeps the
            # all-integer rank device exact at any n.
            F.col("cum_cnt")
            <= F.expr(f"(n * {_STRAT_TRAIN_PCT}L + 99L) div 100L"),
            "train",
        )
        .otherwise("test")
        .alias("split"),
    )
    return (
        s.groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.count(F.lit(1)) / F.max("n"), 6).alias("frac"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(28,0)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_chars"),
        )
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# Systematic PPS sampling (midpoint rule, RNG-free)
# ---------------------------------------------------------------------------

_SYS_N = 20  # sample size


@query(
    "q_sample_systematic",
    # Pure integer construction: thresholds T_k = (2k+1)W/(2n) are
    # never materialized — a doc's hit count is a difference of two
    # positive integer divisions least(n, (2n·cum + W) // (2W)), so
    # both engines select the identical multiset with no floats and
    # no floor-vs-truncate divergence (all numerators positive).
    oracle=f"""
WITH f AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w
  FROM documents WHERE n_chars > 0
),
c AS (
  SELECT doc_id, lang, w,
         CAST(sum(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum
  FROM f
),
t AS (SELECT CAST(sum(w) AS BIGINT) AS big_w FROM f),
h AS (
  SELECT doc_id, lang, w,
         least({_SYS_N}, (2 * {_SYS_N} * cum + big_w) // (2 * big_w))
           AS k_hi,
         least({_SYS_N},
               (2 * {_SYS_N} * (cum - w) + big_w) // (2 * big_w)) AS k_lo
  FROM c CROSS JOIN t
)
SELECT doc_id, lang, w,
       CAST(k_hi - k_lo AS BIGINT) AS n_hits,
       CAST(k_lo AS BIGINT) AS first_pick
FROM h WHERE k_hi > k_lo
ORDER BY doc_id
""",
)
def q_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling of {n}
    documents by byte weight, midpoint rule: lay the corpus on a line
    of cumulative weight W, drop {n} equally-spaced picks at
    (2k+1)·W/2n, and take whichever doc each pick lands in — the
    classical RNG-free survey design (deterministic, stratification-
    friendly because frame order IS implicit stratification, and
    heavy docs can legitimately be hit more than once — n_hits is the
    with-replacement multiplicity an estimator divides by). Every
    pipeline that "spot checks 20 documents weighted by size" is this
    operator, reproducibly.

    Scale shape: one ``dist_cumsum`` over the frame order (equi-depth
    buckets — no global-sort window), one broadcast 1-row total, then
    a row-local pair of integer divisions; selected rows are the only
    output. Integer overflow headroom: 2n·W must fit int64 — at
    n = 20 that caps W at ~2·10¹⁷ bytes (200 PB), documented here.
    """
    d = load_table(spark, sf_dir, "documents")
    f = d.filter(F.col("n_chars") > 0).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("w")
    )
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    c = dist_cumsum(f, "doc_id", ["w"]).select(
        "doc_id", "lang", "w", F.col("cum_w").cast("long").alias("cum")
    )
    t = F.broadcast(f.agg(F.sum("w").cast("long").alias("big_w")))

    def kcount(cum_expr):
        return F.least(
            F.lit(_SYS_N).cast("long"),
            F.expr(
                f"(2 * {_SYS_N} * ({cum_expr}) + big_w) div (2 * big_w)"
            ),
        )

    h = c.crossJoin(t).select(
        "doc_id",
        "lang",
        "w",
        kcount("cum").alias("k_hi"),
        kcount("cum - w").alias("k_lo"),
    )
    return (
        h.filter(F.col("k_hi") > F.col("k_lo"))
        .select(
            "doc_id",
            "lang",
            "w",
            (F.col("k_hi") - F.col("k_lo")).cast("long").alias("n_hits"),
            F.col("k_lo").cast("long").alias("first_pick"),
        )
        .orderBy("doc_id")
    )


q_sample_systematic.__doc__ = q_sample_systematic.__doc__.format(n=_SYS_N)


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (diversity sampling for curation)
# ---------------------------------------------------------------------------

_KC_K = 5  # selected coreset size (unrolled rounds)


def _kcenter_dist_sql(av: str, bv: str) -> str:
    """Exact 1e12-integer squared distance (the TwoNN device)."""
    return (
        f"CAST(sum(CAST(round(round(({av} - {bv}) * ({av} - {bv}), 12)"
        f" * 1000000000000.0) AS BIGINT)) AS BIGINT)"
    )


def _kcenter_oracle() -> str:
    # Seed = vec_id 0's nearest... no: seed = MIN vec_id (deterministic).
    # Round r: for every corpus point, d_min = min distance to the
    # chosen set; pick argmax (6dp... distances are exact ints — plain
    # max with vec_id tiebreak).
    ctes = ["""
c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s0 AS (SELECT vec_id, v FROM c ORDER BY vec_id LIMIT 1)"""]
    prev_sel = "s0"
    for r in range(1, _KC_K):
        ctes.append(f"""
d{r} AS (
  SELECT c.vec_id, min(dd.d2) AS dmin
  FROM c, LATERAL (
    SELECT {_kcenter_dist_sql('c.v[u.i]', 's.v[u.i]')} AS d2
    FROM {prev_sel} s, unnest(generate_series(1, len(c.v))) AS u(i)
    GROUP BY s.vec_id
  ) dd
  GROUP BY c.vec_id
),
p{r} AS (
  SELECT c.vec_id, c.v FROM d{r} JOIN c USING (vec_id)
  ORDER BY d{r}.dmin DESC, vec_id LIMIT 1
),
s{r} AS (SELECT * FROM {prev_sel} UNION ALL SELECT * FROM p{r})""")
        prev_sel = f"s{r}"
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
,
fin AS (
  SELECT c.vec_id, min(dd.d2) AS dmin
  FROM c, LATERAL (
    SELECT {_kcenter_dist_sql('c.v[u.i]', 's.v[u.i]')} AS d2
    FROM {prev_sel} s, unnest(generate_series(1, len(c.v))) AS u(i)
    GROUP BY s.vec_id
  ) dd
  GROUP BY c.vec_id
),
sel AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS pick
  FROM {prev_sel}
)
SELECT sel.vec_id AS center_vec_id, sel.pick,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_corpus,
       round(CAST((SELECT max(dmin) FROM fin) AS DOUBLE) / 1e12, 6)
         AS coverage_radius_sq
FROM sel ORDER BY sel.vec_id
"""
    )


@query(
    "q_sample_kcenter",
    # Distances ride the exact 1e12-integer grid, so every round's
    # farthest-point argmax is an exact integer comparison with a
    # vec_id tiebreak — both engines select the identical centers and
    # report the identical coverage radius.
    oracle=_kcenter_oracle(),
)
def q_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal,
    k = {k}): start from the min-id vector, repeatedly add the point
    FARTHEST from the current set, and report the selected centers
    plus the final coverage radius (max over points of the distance
    to the nearest center — the 2-approximation guarantee radius).
    This is DIVERSITY sampling for curation: where q_sample_balanced
    quotas by label and q_sample_importance_clip reweights by a
    score, k-center picks the examples that SPAN the embedding space
    — dedup's complement (drop the redundant middle, keep the hull).

    Scale shape (r12 continuation): the running per-point d²min to the
    chosen set is a narrow (vec_id, dmin) frame folded forward each
    round — a round scores ONLY the newest center (one corpus scan on
    the exact integer grid) and takes the elementwise min with the
    previous round's dmin, so total distance work is O(k·n) instead of
    the O(k²·n) full-set rescore the first form paid (guide §1.2:
    don't recompute what a previous pass already knows). Picks are a
    rank-1 TakeOrdered over the checkpointed dmin; no pair
    materialization, no driver loop over data. The min over centers is
    distributive and every distance is the same exact 1e12-grid
    integer, so the greedy picks (and the final coverage radius) are
    bit-identical to the full-rescore form — the oracle keeps its
    declarative unrolled rescore.
    """
    from asyncdatapipeline_spark.llm.similarity import _as_double

    e = load_table(spark, sf_dir, "embeddings")
    c = (
        e.repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .localCheckpoint(eager=False)
    )
    chosen = (
        c.orderBy("vec_id").limit(1).select("vec_id", "v")
    ).localCheckpoint(eager=False)

    def dstep(sel1):
        """Exact-integer d² of every corpus point to ONE center (a
        1-row broadcast frame — the sanctioned scalar-BNLJ shape)."""
        co = c.select(
            F.col("vec_id").alias("cid"),
            F.posexplode("v").alias("pos", "x"),
        )
        term = F.round(
            F.round(
                (F.col("x") - F.element_at(F.col("sv"), F.col("pos") + 1))
                * (F.col("x") - F.element_at(F.col("sv"), F.col("pos") + 1)),
                12,
            )
            * 1e12,
            0,
        ).cast("long")
        return (
            co.join(F.broadcast(sel1.select(F.col("v").alias("sv"))))
            .groupBy("cid")
            .agg(F.sum(term).alias("d2"))
        )

    # Running nearest-center distance: starts at the seed, folds in
    # one new center per round. Narrow (cid, dmin) checkpoints only —
    # the corpus vectors are never re-scored against old centers.
    dmin = dstep(chosen).withColumnRenamed("d2", "dmin").localCheckpoint(
        eager=False
    )
    for _ in range(1, _KC_K):
        pick = (
            dmin.join(c, F.col("cid") == F.col("vec_id"))
            .orderBy(F.col("dmin").desc(), "vec_id")
            .limit(1)
            .select("vec_id", "v")
            # 1-row frame read twice (chosen append + dstep); the
            # checkpoint stops the argmax subtree evaluating twice
            .localCheckpoint(eager=False)
        )
        chosen = chosen.unionAll(pick).localCheckpoint(eager=False)
        dmin = (
            dmin.join(
                dstep(pick).withColumnRenamed("d2", "dnew"), "cid"
            )
            .select("cid", F.least("dmin", "dnew").alias("dmin"))
            .localCheckpoint(eager=False)
        )
    # dmin now covers all k centers — it IS the old full-rescore fin
    radius = F.broadcast(
        dmin.agg(F.max("dmin").alias("rmax"))
    )
    n = F.broadcast(c.agg(F.count(F.lit(1)).cast("long").alias("n_corpus")))
    from asyncdatapipeline_spark.operators._util import bounded_part

    wb = W.partitionBy(bounded_part(F.col("vec_id"))).orderBy("vec_id")
    return (
        chosen.select("vec_id")
        .withColumn("pick", F.row_number().over(wb).cast("long"))
        .crossJoin(n)
        .crossJoin(radius)
        .select(
            F.col("vec_id").alias("center_vec_id"),
            "pick",
            "n_corpus",
            F.round(F.col("rmax").cast("double") / 1e12, 6).alias(
                "coverage_radius_sq"
            ),
        )
        .orderBy("center_vec_id")
    )


q_sample_kcenter.__doc__ = q_sample_kcenter.__doc__.format(k=_KC_K)


@query(
    "q_ml_adversarial",
    # Adversarial validation, rank form: per-feature AUC separating the
    # old from the new corpus half. Doubled midranks on the per-feature
    # distinct-value spine keep every accumulation BIGINT; AUC is one
    # final division (the q_agg_mannwhitney identity AUC = U/(n₁n₂)).
    oracle="""
WITH bounds AS (
  SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents
),
f AS (
  SELECT CASE WHEN 2 * doc_id >= mn + mx THEN 1 ELSE 0 END AS is_new,
         CAST(n_chars AS DOUBLE) AS f_chars,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
              AS DOUBLE) / n_chars AS f_punct,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS DOUBLE) / n_chars AS f_digit,
         CAST(length(text) - length(regexp_replace(text, '[ ]', '', 'g'))
              AS DOUBLE) / n_chars AS f_space
  FROM documents, bounds
),
u AS (
  SELECT 'chars' AS feature, f_chars AS value, is_new FROM f
  UNION ALL SELECT 'punct_ratio', f_punct, is_new FROM f
  UNION ALL SELECT 'digit_ratio', f_digit, is_new FROM f
  UNION ALL SELECT 'space_ratio', f_space, is_new FROM f
),
per_v AS (
  SELECT feature, value, CAST(sum(is_new) AS BIGINT) AS pos,
         CAST(count(*) AS BIGINT) AS tie
  FROM u GROUP BY 1, 2
),
cum AS (
  SELECT feature, pos, tie,
         CAST(SUM(tie) OVER (PARTITION BY feature ORDER BY value)
              AS BIGINT) AS cum_tie
  FROM per_v
),
s AS (
  SELECT feature,
         CAST(sum(pos * (2 * cum_tie - tie + 1)) AS BIGINT) AS r2p,
         CAST(sum(pos) AS BIGINT) AS n_new,
         CAST(sum(tie - pos) AS BIGINT) AS n_old
  FROM cum GROUP BY 1
)
SELECT feature, n_new, n_old,
       CASE WHEN n_new > 0 AND n_old > 0 THEN
         round((CAST(r2p AS DOUBLE) / 2
                - CAST(n_new AS DOUBLE) * (n_new + 1) / 2)
               / (CAST(n_new AS DOUBLE) * n_old), 6)
       END AS auc,
       CASE WHEN n_new > 0 AND n_old > 0 THEN
         abs((CAST(r2p AS DOUBLE) / 2
              - CAST(n_new AS DOUBLE) * (n_new + 1) / 2)
             / (CAST(n_new AS DOUBLE) * n_old) - 0.5e0) > 0.05e0
       END AS drifted
FROM s ORDER BY feature
""",
)
def q_ml_adversarial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial validation of the corpus: can surface features
    (length, punctuation/digit/space density) tell the NEW half of the
    corpus from the OLD half — the distribution-shift gate run before
    mixing a fresh crawl into training data (per-feature AUC ≈ 0.5 =
    indistinguishable; a drifted feature names WHAT changed, which
    q_profile_drift's single-column PSI can't). Rank form: per-feature
    Mann-Whitney AUC instead of a fitted classifier — deterministic,
    monotone-invariant, and exactly the first split any GBM would
    find.

    Scale shape: features are row-local codegen (regexp length
    arithmetic — no UDF, no shuffle); the rank spine is per-feature
    DISTINCT values via ``dist_cumsum(part_cols=[feature])`` (the
    q_agg_mannwhitney device, bounded 4-feature partition axis);
    doubled midranks keep rank sums BIGINT; AUC is one division per
    feature row. The half label is a 1-row broadcast min/max — no
    action.
    """
    from asyncdatapipeline_spark.operators._util import dist_cumsum

    d = load_table(spark, sf_dir, "documents")
    bounds = F.broadcast(
        d.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
    )
    nc = F.col("n_chars")
    t = F.col("text")

    def _ratio(pat: str):
        return (
            F.length(t) - F.length(F.regexp_replace(t, pat, ""))
        ).cast("double") / nc

    f = d.crossJoin(bounds).select(
        F.when(2 * F.col("doc_id") >= F.col("mn") + F.col("mx"), 1)
        .otherwise(0)
        .alias("is_new"),
        nc.cast("double").alias("f_chars"),
        _ratio("[.,;:!?]").alias("f_punct"),
        _ratio("[0-9]").alias("f_digit"),
        _ratio("[ ]").alias("f_space"),
    )
    u = None
    for feat, col in [
        ("chars", "f_chars"),
        ("punct_ratio", "f_punct"),
        ("digit_ratio", "f_digit"),
        ("space_ratio", "f_space"),
    ]:
        part = f.select(
            F.lit(feat).alias("feature"),
            F.col(col).alias("value"),
            "is_new",
        )
        u = part if u is None else u.unionByName(part)
    per_v = u.groupBy("feature", "value").agg(
        F.sum("is_new").cast("long").alias("pos"),
        F.count(F.lit(1)).cast("long").alias("tie"),
    )
    c = dist_cumsum(per_v, "value", ["tie"], part_cols=["feature"])
    r2 = 2 * F.col("cum_tie") - F.col("tie") + 1
    s = c.groupBy("feature").agg(
        F.sum(F.col("pos") * r2).cast("long").alias("r2p"),
        F.sum("pos").cast("long").alias("n_new"),
        F.sum(F.col("tie") - F.col("pos")).cast("long").alias("n_old"),
    )
    n_new = F.col("n_new").cast("double")
    auc = (F.col("r2p").cast("double") / 2 - n_new * (F.col("n_new") + 1) / 2) / (
        n_new * F.col("n_old")
    )
    # a one-class corpus (all docs in one half) has no AUC -> NULL,
    # mirrored; the when() keeps the ANSI division unevaluated.
    ok = (F.col("n_new") > 0) & (F.col("n_old") > 0)
    return s.select(
        "feature",
        "n_new",
        "n_old",
        F.when(ok, F.round(auc, 6)).alias("auc"),
        F.when(ok, F.abs(auc - 0.5) > 0.05).alias("drifted"),
    ).orderBy("feature")
