"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2B B56-B57 + north-star extensions: exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup).

Scale doctrine: near-dup detection at 100 TB is always
*bucket-then-verify* — never an all-pairs comparison. MinHash banding and
SimHash prefix buckets bound candidate generation; the exact-Jaccard
verifier only runs inside buckets. The n-gram pair join carries a
hot-shingle suppression filter (a shingle shared by >100 docs generates
O(n²) candidate pairs and no dedup signal — the classic skew guardrail).
"""

from __future__ import annotations



from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from asyncdatapipeline_spark.registry import query
from asyncdatapipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# B56 — exact dedup
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact", scan_repair=False,
    oracle="""
SELECT
  md5(text) AS text_hash,
  min(doc_id) AS keep_id,
  count(*) AS dup_count
FROM documents
GROUP BY md5(text)
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup via content-hash groupBy (B56).

    Hash first, then group on the 128-bit digest: the shuffle carries
    32-byte keys instead of document bodies — at 100 TB that is the
    difference between shuffling hashes and shuffling the corpus.
    md5 is content-addressing here, not security.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# B57 — MinHash + LSH banding (full cross-engine oracle)
# ---------------------------------------------------------------------------

_MINHASH_K = 16    # signature length
_BAND_ROWS = 2     # rows per band → 8 bands; P(candidate) = 1-(1-j^2)^8
_BUCKET_CAP = 50   # drop LSH buckets larger than this (hot-key guardrail)

# Affine universal-hash family over the Mersenne prime 2^31-1: lane_i(h)
# = (a_i*h + b_i) mod P with h already reduced mod P, so every product
# stays < 2^62 — no bigint overflow even under ANSI mode. Constants come
# from a fixed LCG so signatures are deterministic across runs/executors.
_MINHASH_P = (1 << 31) - 1


def _lcg_constants(k: int, seed: int = 42) -> tuple[list[int], list[int]]:
    x = seed
    out = []
    for _ in range(2 * k):
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append(x)
    a = [v % (_MINHASH_P - 1) + 1 for v in out[:k]]
    b = [v % _MINHASH_P for v in out[k:]]
    return a, b


_MINHASH_A, _MINHASH_B = _lcg_constants(_MINHASH_K)

# SQL-text twin of _shingle_array: the signature expression is built as
# ONE expr() string parsed JVM-side — the equivalent Column-API tree
# costs ~0.6s of py4j round-trips per call just to construct.
#
# The word array is let-bound once via the single-element-transform
# trick (`wb.w`): the earlier form called `element_at(split(text,' '),
# i)` inside the per-shingle lambda, re-splitting the text per element
# — O(n) work re-run O(n) times per row. zip_with over three aligned
# slices matches _shingle_array exactly; `if(size >= 3, ..., array())`
# makes "no shingles" an empty set (not a crash) for short docs.
_SHINGLES_SQL = (
    "element_at(transform(array(struct(split(text, ' ') as w)), "
    "wb -> array_distinct(if(size(wb.w) >= 3, "
    "zip_with(slice(wb.w, 1, size(wb.w) - 2), "
    "zip_with(slice(wb.w, 2, size(wb.w) - 2), "
    "slice(wb.w, 3, size(wb.w) - 2), "
    "(b, c) -> concat_ws(' ', b, c)), "
    "(a, bc) -> concat_ws(' ', a, bc)), "
    "cast(array() as array<string>)))), 1)"
)


# Base shingle hash, selectable via SPARK_GRAFT_HASH:
#
# - "md5" (default): low 60 bits of md5 (15 hex chars → conv → bigint,
#   no ANSI overflow), reduced mod P. Chosen so the DuckDB oracle can
#   recompute the *identical* signatures — this is what keeps the whole
#   LSH pipeline hash-checkable end-to-end.
# - "xxhash64": Spark's native 64-bit hash, pmod-reduced. Same plan
#   shape, ~2× cheaper end-to-end (measured at sf0.1: q_dedup_minhash
#   warm median-of-3 2.99s md5 → 1.46s xxhash64, with the non-hash
#   LSH stages common to both) — the production-ingest knob when
#   throughput matters more than cross-engine verifiability. DuckDB has
#   no xxhash64, so CORRECTNESS runs must keep the default.
_SHINGLE_H_MD5 = "(cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint) % {p}L)"
_SHINGLE_H_XX = "pmod(xxhash64(s), {p}L)"


def _hash_mode() -> str:
    import os

    mode = os.environ.get("SPARK_GRAFT_HASH", "md5")
    if mode not in ("md5", "xxhash64"):
        raise ValueError(
            f"SPARK_GRAFT_HASH={mode!r}: expected 'md5' (oracle-verifiable, "
            f"default) or 'xxhash64' (fast ingest, no DuckDB twin)"
        )
    return mode


def _shingle_h_sql() -> str:
    return _SHINGLE_H_XX if _hash_mode() == "xxhash64" else _SHINGLE_H_MD5


def _minhash_sig_sql() -> str:
    """One-pass k-lane minhash signature as a single SQL expression.

    ``aggregate`` folds the hashed-shingle array through a 16-lane
    running-minimum accumulator; each shingle string is md5'd exactly
    once, lanes are affine transforms of that hash.
    """
    p = _MINHASH_P
    lanes = ", ".join(
        f"({_MINHASH_A[i]}L * h + {_MINHASH_B[i]}L) % {p}L"
        for i in range(_MINHASH_K)
    )
    init = ", ".join([f"{p}L"] * _MINHASH_K)
    base = _shingle_h_sql().format(p=p)
    return (
        f"aggregate(transform({_SHINGLES_SQL}, s -> {base}), "
        f"array({init}), "
        f"(acc, h) -> zip_with(acc, array({lanes}), (a, l) -> least(a, l)))"
    )


def _minhash_oracle_sql() -> str:
    """DuckDB twin of the whole MinHash-LSH pipeline: same shingles,
    same md5-60bit base hash, same affine lanes, same 2-lane band keys,
    same 2..cap bucket rule — so candidate pairs match row-for-row."""
    p = _MINHASH_P
    lanes = ",\n    ".join(
        f"min(({_MINHASH_A[i]} * h + {_MINHASH_B[i]}) % {p}) AS s{i}"
        for i in range(_MINHASH_K)
    )
    n_bands = _MINHASH_K // _BAND_ROWS
    bands = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band_idx, {key} AS band_hash FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"s{b * _BAND_ROWS + r}::VARCHAR" for r in range(_BAND_ROWS)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
  FROM ws
),
hs AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::UBIGINT::BIGINT % {p} AS h
  FROM sh
),
sig AS (
  SELECT doc_id,
    {lanes}
  FROM hs GROUP BY doc_id
),
banded AS (
  {bands}
),
bsz AS (
  SELECT band_idx, band_hash, count(*) AS n
  FROM banded GROUP BY band_idx, band_hash
),
okb AS (
  SELECT b.doc_id, b.band_idx, b.band_hash
  FROM banded b JOIN bsz USING (band_idx, band_hash)
  WHERE bsz.n BETWEEN 2 AND {_BUCKET_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM okb a JOIN okb b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, count(*) AS shared_bands FROM pairs GROUP BY doc_a, doc_b
"""


def _shingle_array(col):
    """Distinct 3-word shingles — the MinHash token set.

    Bare words are a poor token set when the corpus vocabulary is small
    (every doc shares most words → every band bucket saturates); shingles
    keep the signal local and distinctive, matching the exact verifier
    (q_dedup_ngram).
    """
    w = F.split(col, " ")
    n = F.size(w)
    # zip_with over three aligned slices — native array ops, ~2x cheaper
    # than the element_at-by-index transform it replaced (interpreted
    # HOF eval pays per element_at call). Values identical.
    sh = F.zip_with(
        F.slice(w, 1, n - 2),
        F.zip_with(
            F.slice(w, 2, n - 2),
            F.slice(w, 3, n - 2),
            lambda b, c: F.concat_ws(" ", b, c),
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    # n < 3 must yield an EMPTY set (not a crash / not "identical") —
    # the guard also keeps slice() lengths non-negative.
    return F.array_distinct(
        F.when(n >= 3, sh).otherwise(F.array().cast("array<string>"))
    )


@query("q_dedup_minhash", oracle=_minhash_oracle_sql())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banded near-dup candidates (B57).

    shingle → k minhashes → band → bucket-join, all in built-in
    functions (no Python in the row path):

    1. per row, hash each distinct 3-word shingle once (md5's low 60
       bits → mod P; cross-engine reproducible, see _shingle_h_sql —
       or native xxhash64 when SPARK_GRAFT_HASH=xxhash64),
       then fold the hash array through a single ``aggregate`` whose
       accumulator is the 16-lane running minimum, with lane_i(h) =
       (a_i*h + b_i) mod P (affine universal hashing over the Mersenne
       prime 2^31-1). The whole signature is one codegen'd projection —
       no explode, no shuffle, and each shingle string is hashed exactly
       once instead of k times (8× faster than the grouped-min-aggregate
       formulation it replaced, which shuffled |docs|×k partial mins);
    2. split the signature into bands of 2; the band key is the joined
       lane values (equality-only use — no second hash needed, and the
       oracle reproduces it verbatim);
    3. explode bands → groupBy (band_idx, band_hash) → docs sharing a
       band bucket are candidate pairs (verified by q_dedup_ngram's exact
       Jaccard in a real pipeline).

    Emits one row per candidate pair with the number of shared bands —
    hash-checked against a DuckDB twin of the entire LSH pipeline.
    Hot buckets (> 50 docs) are dropped by a count-first guardrail — see
    the two-pass note inline.
    """
    d = load_table(spark, sf_dir, "documents")
    # The fixture corpus is one parquet file → one input partition; the
    # signature projection is CPU-bound, so spread it across cores first
    # (round-robin — no key needed, nothing downstream reuses the
    # partitioning). At 100 TB the input is many files and this
    # repartition is dropped.
    #
    # Docs with < 3 words have an empty shingle set → the signature
    # would sit at its init value and every such doc would share every
    # band: one mega-hot bucket per band (a skew bomb, and semantically
    # wrong — "no shingles" is not "identical"). Drop them up front.
    # Half the core count, not all of it: the signature pass is pure
    # CPU, and sizing tasks 1:1 with cores leaves zero headroom — any
    # co-tenant CPU noise turns one task into a multi-second straggler
    # (measured: 32 tasks on 32 cores swings 1.4-6.5s; 16 tasks is a
    # stable 1.4s).
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    sig_row = (
        d.repartition(n_part)
        .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select("doc_id", F.expr(_minhash_sig_sql()).alias("sig"))
    )
    n_bands = _MINHASH_K // _BAND_ROWS
    banded = (
        sig_row
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * _BAND_ROWS + r + 1)
                                    for r in range(_BAND_ROWS)
                                ],
                            ).alias("band_hash"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("band"),
        )
        .select("doc_id", "band.band_idx", "band.band_hash")
    )
    # Hot-bucket guardrail via salted two-level aggregation — one linear
    # pipeline, bounded task memory at any bucket size. A naive
    # collect_set-then-filter would materialize a mega-bucket (every
    # near-identical boilerplate page in a crawl) in ONE reduce task —
    # the classic LSH OOM at 100 TB. Instead:
    #   level 1: group by (bucket, doc_id % 64): a hot bucket's members
    #            spread over 64 sub-aggregates, each capped to
    #            _BUCKET_CAP+1 ids (enough to prove "over cap");
    #   level 2: group by bucket, sum true counts, drop buckets with
    #            n < 2 or n > _BUCKET_CAP, flatten the ≤ 64×(cap+1)
    #            surviving ids.
    # Salting spreads a hot bucket's collection 64 ways (the salt fan-out
    # is the tunable), the slice caps what each sub-aggregate ships
    # downstream, and level 2 sees at most 64×(cap+1) ids per bucket.
    lvl1 = (
        banded.groupBy(
            "band_idx", "band_hash", (F.col("doc_id") % 64).alias("salt")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.slice(
                F.sort_array(F.collect_set("doc_id")), 1, _BUCKET_CAP + 1
            ).alias("ids"),
        )
    )
    buckets = (
        lvl1.groupBy("band_idx", "band_hash")
        .agg(
            F.sum("n").alias("n"),
            F.sort_array(F.flatten(F.collect_list("ids"))).alias("ids"),
        )
        .filter((F.col("n") >= 2) & (F.col("n") <= _BUCKET_CAP))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    # No final orderBy: a global sort of the pair set costs a sampling
    # job + range-exchange and buys nothing — candidate pairs feed the
    # exact verifier (q_dedup_ngram), which doesn't care about order.
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


# ---------------------------------------------------------------------------
# SimHash (north star) — pure codegen, oracle-checked
# ---------------------------------------------------------------------------

# Signed 64-bit word hash from md5's first 16 hex chars: the hi/lo
# 32-bit halves go through conv() separately (each fits a bigint, so
# ANSI mode never sees an overflow) and recombine with wrapping bit ops.
# DuckDB parses the same 16 chars via ('0x' || ...)::UBIGINT — both
# engines agree bit-for-bit on any UTF-8 input (parity asserted in
# tests/test_oracle_parity.py).
_MD5_H64_SQL = (
    "(shiftleft(cast(conv(substr(md5({c}), 1, 8), 16, 10) as bigint), 32) | "
    "cast(conv(substr(md5({c}), 9, 8), 16, 10) as bigint))"
)


def _word_h64_sql() -> str:
    """64-bit word hash for SimHash — md5-derived (oracle-verifiable,
    default) or native xxhash64 (fast ingest), per SPARK_GRAFT_HASH
    (see _shingle_h_sql)."""
    return "xxhash64({c})" if _hash_mode() == "xxhash64" else _MD5_H64_SQL


def _simhash_votes_sql() -> str:
    """Per-doc 64-lane bit-vote accumulator as one codegen expression.

    ``aggregate`` folds the distinct-word hash array through a 64-long
    counter array: lane j accumulates bit j of each word hash. No
    Python, no shuffle — the whole SimHash family runs inside
    whole-stage codegen (the pandas-UDF formulation this replaced paid
    Arrow transfer + a Python worker per batch for the same math).
    """
    h = _word_h64_sql().format(c="w")
    return (
        f"aggregate(transform(array_distinct(split(text, ' ')), w -> {h}), "
        "array_repeat(0L, 64), "
        "(acc, h) -> zip_with(acc, "
        "transform(sequence(0, 63), j -> shiftrightunsigned(h, j) & 1L), "
        "(a, b) -> a + b))"
    )


def _simhash_fp_sql() -> str:
    """Fingerprint from the vote array, with an explicit let-binding.

    The vote fold and the word count are bound ONCE per row via a
    single-element ``transform`` (a lambda-let): referencing them as
    plain projection columns instead would invite CollapseProject to
    inline the fold into the 64-iteration majority-vote lambda — the
    alias is referenced once *textually*, which is all CollapseProject
    counts, but it lands inside a lambda body that executes 64× per row
    (observed: the collapsed plan recomputed the whole fold per bit).
    Majority vote per bit j sets bit j; the signed wrap falls out of
    shiftleft(1L, 63) being MIN_LONG.
    """
    return (
        "element_at(transform("
        f"array(struct({_simhash_votes_sql()} as v, "
        "cast(size(array_distinct(split(text, ' '))) as bigint) as n)), "
        "s -> aggregate(transform(sequence(0, 63), "
        "j -> if(2 * element_at(s.v, j + 1) > s.n, shiftleft(1L, j), 0L)), "
        "0L, (acc, x) -> acc | x)), 1)"
    )


@query(
    "q_dedup_simhash",
    # Full cross-engine oracle: DuckDB recomputes the identical
    # md5-derived word hashes, per-bit majority vote, and prefix bucket.
    oracle="""
WITH w AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
  FROM documents WHERE text IS NOT NULL AND text != ''
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 16))::UBIGINT AS u FROM w
),
v AS (
  SELECT doc_id, j,
         count(*) AS n,
         count(*) FILTER (WHERE (u >> j) & 1 = 1) AS ones
  FROM h, (SELECT unnest(range(64)) AS j) js
  GROUP BY doc_id, j
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN 2 * ones > n
                  THEN (1::UBIGINT << j)::HUGEINT ELSE 0::HUGEINT END) AS ufp
  FROM v GROUP BY doc_id
),
s AS (
  SELECT d.doc_id, coalesce(f.ufp, 0) AS ufp
  FROM documents d LEFT JOIN fp f USING (doc_id)
)
SELECT doc_id,
  CAST(CASE WHEN ufp >= 9223372036854775808::HUGEINT
            THEN ufp - 18446744073709551616::HUGEINT
            ELSE ufp END AS BIGINT) AS simhash,
  CAST(ufp // 281474976710656 AS BIGINT) AS bucket16
FROM s ORDER BY doc_id
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document + 16-bit prefix bucket (north-star
    dedup family).

    Pure built-in expression — per doc, each distinct word hashes to 64
    bits (md5-derived, cross-engine reproducible), a single ``aggregate``
    fold tallies the per-bit majority vote, and the fingerprint
    assembles with wrapping bit ops. Zero Python in the row path: the
    plan is one WholeStageCodegen projection (asserted in
    plans/audit.py), and the same formula runs in the DuckDB oracle, so
    the driver hash-checks every fingerprint. Near-dups differ in few
    bits; the prefix bucket is the scale path (group by bucket, verify
    hamming distance within).

    The vote array is let-bound inside the expression (see
    :func:`_simhash_fp_sql`) so it is evaluated exactly once per row.
    """
    d = load_table(spark, sf_dir, "documents")
    # One-file fixture corpus → one input partition; the hash fold is
    # CPU-bound, so spread it (same straggler-headroom sizing as
    # q_dedup_minhash). At 100 TB the input is many files and this
    # repartition is dropped.
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    fp = F.when(
        F.col("text").isNull() | (F.col("text") == ""), F.lit(0).cast("long")
    ).otherwise(F.expr(_simhash_fp_sql()))
    return (
        d.repartition(n_part)
        .select("doc_id", fp.alias("simhash"))
        .select(
            "doc_id",
            "simhash",
            F.shiftrightunsigned("simhash", 48).alias("bucket16"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (north star) — exact, oracle-checked
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.8
_HOT_SHINGLE_MAX_DOCS = 100

# Verified-pairs cache, keyed by (applicationId, sf_dir): the exact
# Jaccard pair set is a derived artifact consumed by BOTH q_dedup_ngram
# and q_dedup_clusters (which builds components over it) — computing the
# shingle self-join twice per session is pure waste. The cached frame is
# lazily local-checkpointed, so the first action materializes it once
# and every later consumer reads the checkpointed blocks.
_NGRAM_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


# Shared with the q_dedup_clusters oracle, which builds connected
# components over this exact pair set.
_NGRAM_ORACLE_SQL = f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
  FROM ws
),
cold AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) <= {_HOT_SHINGLE_MAX_DOCS}
),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN cold USING (shingle)),
cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       round(p.shared * 1.0 / (ca.n + cb.n - p.shared), 6) AS jaccard
FROM pairs p
JOIN cnt ca ON ca.doc_id = p.doc_a
JOIN cnt cb ON cb.doc_id = p.doc_b
WHERE p.shared * 1.0 / (ca.n + cb.n - p.shared) >= {_JACCARD_THRESHOLD}
"""


@query("q_dedup_ngram", oracle=_NGRAM_ORACLE_SQL)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram (word-shingle) Jaccard near-dup pairs (north-star
    dedup family; the exact verifier behind MinHash candidates).

    Pipeline: shingle → distinct(doc, shingle) → *hot-shingle filter*
    (drop shingles in >{max} docs: they contribute O(n²) pairs and no
    signal — the skew guardrail that makes this viable at scale) →
    self-join on shingle → per-pair intersection count → Jaccard via
    inclusion-exclusion → threshold. The pair set is cached per
    (session, corpus) — q_dedup_clusters consumes it too.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _NGRAM_PAIRS_CACHE.get(key)
    if cached is not None:
        return cached
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(_shingle_array(F.col("text"))).alias("shingle")
    )
    cold = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _HOT_SHINGLE_MAX_DOCS)
        .select("shingle")
    )
    # shc feeds BOTH self-join sides and the per-doc counts — three
    # references; truncate once so the shingle explode + cold-join runs
    # once on the cold pass (warm passes already reuse the cached
    # result frame below).
    shc = sh.join(cold, "shingle").localCheckpoint(eager=False)
    cnt = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shc.alias("a")
    b = shc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = F.col("shared") * 1.0 / (F.col("ca.n") + F.col("cb.n") - F.col("shared"))
    out = (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .filter(jac >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .localCheckpoint(eager=False)
    )
    _NGRAM_PAIRS_CACHE[key] = out
    return out


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (north star) — exact within a bounded id range
# ---------------------------------------------------------------------------

_COS_THRESHOLD = 0.95
_EMBED_ID_BOUND = 300  # bound the all-pairs region; scale path = LSH buckets


@query(
    "q_dedup_embed",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < {_EMBED_ID_BOUND}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= {_COS_THRESHOLD}
""",
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (north-star dedup family).

    Exact all-pairs cosine over a *bounded* id range (the honest baseline
    — an unbounded crossJoin of two 100 TB sides is a design bug; the
    scale path is the random-hyperplane bucketing of q_sim_ann, which
    reduces this to per-bucket all-pairs). Dot products run as a
    sequential double fold (``zip_with`` + ``aggregate``), matching
    DuckDB's double-cast ``list_cosine_similarity``; rounded to 6.
    """
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _EMBED_ID_BOUND)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )

    def dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    # norm once per VECTOR, not per pair — sqrt of the same sequential
    # fold, so values (and the oracle hash) are unchanged
    en = e.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = en.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = en.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") >= _COS_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_sim_raw", 6).alias("cos_sim"))
    )


# --- LSH-bucketed embedding near-dup: the scale path q_dedup_embed
# names (bucket-then-verify over hyperplane signatures instead of a
# bounded all-pairs region) -----------------------------------------------

_EMBED_LSH_BITS = 8          # 2^8 = 256 buckets
_EMBED_LSH_BUCKET_CAP = 100  # hot-bucket guardrail, as in MinHash-LSH
_EMBED_LSH_THRESHOLD = 0.90


def _embed_lsh_oracle_sql() -> str:
    """DuckDB twin: identical md5-derived ±1 hyperplanes (the
    similarity.py _plane_sign family), identical sequential-fold sign
    bits, identical bucket cap, identical cosine threshold."""

    def dot(i: int) -> str:
        sign = (
            "(CASE WHEN ('0x' || substr(md5('p' || {i} || ',' || (j - 1)), 1, 2))"
            "::UINTEGER >= 128 THEN 1.0 ELSE -1.0 END)"
        ).format(i=i)
        return (
            "list_sum(list_transform(generate_series(1, len(v)), "
            f"j -> v[j] * {sign}))"
        )

    sig = " + ".join(
        f"(CASE WHEN {dot(i)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_EMBED_LSH_BITS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sg AS (SELECT vec_id, v, {sig} AS sig FROM e),
bsz AS (
  SELECT sig, count(*) AS n FROM sg GROUP BY sig
  HAVING count(*) BETWEEN 2 AND {_EMBED_LSH_BUCKET_CAP}
),
ok AS (SELECT sg.vec_id, sg.v, sg.sig FROM sg JOIN bsz USING (sig))
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM ok a JOIN ok b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= {_EMBED_LSH_THRESHOLD}
"""


@query("q_dedup_embed_lsh", oracle=_embed_lsh_oracle_sql())
def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH bucketing —
    the scale path for q_dedup_embed (north-star dedup family).

    {bits} md5-derived ±1 hyperplanes (shared with q_sim_ann's
    :func:`~asyncdatapipeline_spark.llm.similarity._plane_sign`, so one
    signature pass serves both ANN probes and dedup) give every vector
    an {bits}-bit signature; only same-signature vectors are compared.
    Expected bucket size is n/2^{bits}, so the per-bucket all-pairs work
    is n²/2^{bits} — the 2^{bits} knob is what turns the forbidden
    all-pairs crossJoin into a linear-ish pass. Hot buckets (degenerate
    embedding regions — all-zero vectors, boilerplate pages embedded
    identically) are dropped by the same count-first guardrail as
    MinHash-LSH banding. At 100 TB the corpus is written partitioned by
    signature, making the self-join a co-partitioned (zero-exchange)
    join; sign bits are sequential double folds so the DuckDB oracle
    reproduces signatures, buckets, and cosines bit-for-bit.

    True near-dup pairs whose signatures differ in >= 1 bit are missed —
    that recall gap is inherent to single-table LSH and is closed by
    running MULTIPLE signature tables OR'd together (band-style, exactly
    as MinHash banding does for Jaccard): ``embed_lsh_pairs(spark,
    sf_dir, n_tables=3)`` — table t draws its planes from family offset
    t·bits, a pair is a candidate if ANY table buckets it together
    (miss probability p^t for per-table miss p). The registry entry is
    the 1-table case so the DuckDB oracle stays a single signature
    recomputation; the multi-table path shares every stage and is
    semantically tested with an adversarially crafted near-dup that
    single-table provably misses (tests/test_llm.py).
    """
    return embed_lsh_pairs(spark, sf_dir, n_tables=1)


def embed_lsh_pairs(
    spark: SparkSession, sf_dir: str, n_tables: int = 1
) -> DataFrame:
    """Shared engine for single- and multi-table hyperplane-LSH
    embedding dedup (see :func:`q_dedup_embed_lsh` for the design
    narrative). One projection computes all n_tables signatures per
    vector; (table, sig) explodes like MinHash bands; the bucket cap,
    capped self-join, and exact-cosine verify run per (table, sig);
    cross-table duplicate candidates collapse in the final groupBy."""
    from asyncdatapipeline_spark.llm.similarity import (
        _as_double,
        _dot,
        _plane_sign,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    first = e.select(F.size("v").alias("d")).first()
    if first is None:
        return spark.createDataFrame(
            [], "vec_a bigint, vec_b bigint, cos_sim double"
        )
    dim = first["d"]

    def table_sig(t: int):
        planes = [
            [_plane_sign(t * _EMBED_LSH_BITS + i, j) for j in range(dim)]
            for i in range(_EMBED_LSH_BITS)
        ]
        sig = F.lit(0)
        for i in range(_EMBED_LSH_BITS):
            plit = F.array(*[F.lit(float(p)) for p in planes[i]])
            sig = sig + F.when(_dot(F.col("v"), plit) >= 0, 1 << i).otherwise(0)
        return sig

    # Precompute the norm ONCE per vector, before the self-join — the
    # inline form recomputes sqrt(dot(v,v)) once per PAIR per side
    # (O(pairs·d) interpreted fold work for an O(n·d) quantity).
    # sqrt of the same sequential fold → bit-identical to the inline
    # value, so the oracle's list_cosine_similarity still hash-matches.
    # All n_tables signatures come out of ONE projection; the (table,
    # sig) explode is exactly the MinHash banding shape.
    sg = (
        e.withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .select(
            "vec_id",
            "v",
            "nrm",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            table_sig(t).alias("sig"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("b"),
        )
        .select("vec_id", "v", "nrm", "b.tbl", "b.sig")
    )
    # Bucket cap via a count window over (tbl, sig): one shuffle, no
    # groupBy-then-join-back diamond re-evaluating the signature pass.
    ok = (
        sg.withColumn(
            "bn", F.count(F.lit(1)).over(W.partitionBy("tbl", "sig"))
        )
        .filter((F.col("bn") >= 2) & (F.col("bn") <= _EMBED_LSH_BUCKET_CAP))
        .drop("bn")
    )
    # Both self-join sides reference `ok` — without lineage truncation
    # the signature folds run twice (the SCALING.md re-reference
    # pitfall; the semantic-dedup cells frame hit the same wall). At
    # 100 TB this materialization is the signature-partitioned layout.
    ok = ok.localCheckpoint(eager=False)
    a = ok.select(
        "tbl",
        "sig",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = ok.select(
        "tbl",
        "sig",
        F.col("vec_id").alias("vec_b"),
        F.col("nrm").alias("nb"),
        F.col("v").alias("vb"),
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, ["tbl", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= _EMBED_LSH_THRESHOLD)
    )
    # a pair found by several tables is ONE candidate; cos is identical
    # across tables, so min == the value
    return pairs.groupBy("vec_a", "vec_b").agg(
        F.round(F.min("cos_raw"), 6).alias("cos_sim")
    )


_CC_MAX_ITERS = 20


def connected_components(pairs: DataFrame, max_iters: int = _CC_MAX_ITERS) -> DataFrame:
    """Min-label propagation connected components over an edge list
    ``(doc_a, doc_b)`` → ``(doc_id, cluster_id)``.

    The last stage of every dedup pipeline: candidate pairs → clusters →
    keep one representative per cluster. Iterative label propagation,
    done the way an iterative algorithm must be done on Spark:

    - each round is one shuffle (edges ⋈ labels, min per node);
    - ``localCheckpoint`` every round truncates lineage — without it
      the plan doubles per iteration and the driver dies planning round
      15 long before the data is a problem;
    - the convergence signal is a ``changed`` flag computed IN the
      label-update select (old and new label are both in scope there),
      so the per-round action is a filter-count over the just-
      checkpointed blocks — not a second labels⋈labels shuffle join;
    - diameter bounds rounds: label propagation converges in the graph
      diameter, and dedup-cluster diameters are tiny (near-dup graphs
      are dense cliques), so the cap is a safety net, not a tuning knob.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    def _step(labels: DataFrame) -> DataFrame:
        """One propagation round: neighbor-min update + pointer jump
        against the PRE-round labels, fused into one select chain (no
        mid-round checkpoint). The jump adopts the label OF the label
        — labels are always node ids inside the same component, so the
        hop stays within it, the min-propagation stays monotone, and
        the round count drops from O(diameter) to O(log diameter) (the
        classic shortcutting step). Jumping through the pre-round
        labels instead of the just-stepped ones (optimization r12) is
        equally monotone — it can lag the fresh jump by one round, but
        it removes the intermediate labels-sized localCheckpoint each
        round paid just to read its own output twice."""
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_label = F.least(
            F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
        )
        stepped = labels.join(
            neighbor_min, labels.doc_id == neighbor_min.src, "left"
        ).select(
            "doc_id",
            new_label.alias("cluster_id"),
            F.col("cluster_id").alias("prev_label"),
        )
        j = labels.select(
            F.col("doc_id").alias("j_id"), F.col("cluster_id").alias("j_lab")
        )
        jumped_label = F.least(
            F.col("cluster_id"), F.coalesce("j_lab", F.col("cluster_id"))
        )
        return stepped.join(j, stepped.cluster_id == j.j_id, "left").select(
            "doc_id",
            jumped_label.alias("cluster_id"),
            (jumped_label < F.col("prev_label")).alias("changed"),
        )

    for _ in range(max_iters):
        # TWO propagation rounds per convergence check (optimization
        # r12): the changed-counts collapse geometrically (sf0.1
        # co-purchase graph: 3136, 519, 105, 20, 10, 2, 0), so checking
        # every round spends a driver action confirming the tail.
        # Checking after a double-step halves the checkpoint + count
        # jobs; the extra no-op half-round at the fixpoint is identity.
        # Convergence stays exact: changed==0 for the SECOND half-step
        # means its input already was the fixpoint.
        flagged = (
            _step(_step(labels).drop("changed"))
            # LAZY checkpoint (r12 job surgery): the convergence count
            # below is the round's one action — it materializes these
            # blocks as it runs, so each double-round costs ONE job,
            # and the lineage is truncated all the same once
            # materialized
            .localCheckpoint(eager=False)
        )
        # materializes + scans the checkpointed blocks in one job
        changed = flagged.filter("changed").count()
        labels = flagged.drop("changed")
        if changed == 0:
            break
    return labels


@query(
    "q_dedup_clusters",
    # The Spark side iterates min-label propagation (the shape an
    # iterative algorithm takes on Spark); the oracle computes the same
    # fixpoint declaratively — a recursive-CTE transitive closure over
    # the identical exact-Jaccard pair set, then min reachable label
    # per node. Both converge to the same deterministic labeling.
    # AS MATERIALIZED matters: DuckDB inlines multiply-referenced CTEs,
    # and `edges` is re-read by every recursion step — without the
    # hint the whole shingle self-join re-evaluates per reference
    # (measured 32s vs 0.5s at sf0.1).
    oracle=f"""
WITH RECURSIVE
p AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_NGRAM_ORACLE_SQL}) t),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM p
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach AS (
  SELECT doc_id, doc_id AS lbl FROM nodes
  UNION
  SELECT e.src AS doc_id, r.lbl
  FROM edges e JOIN reach r ON r.doc_id = e.dst
)
SELECT doc_id, min(lbl) AS cluster_id,
       doc_id = min(lbl) AS is_representative
FROM reach GROUP BY doc_id ORDER BY cluster_id, doc_id
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: exact-Jaccard pairs (q_dedup_ngram) → connected
    components → ``(doc_id, cluster_id, is_representative)``.

    cluster_id = min doc_id in the component (deterministic); the
    representative is the kept document, everything else in the cluster
    is the dedup drop set. Semantics verified in tests/test_llm.py
    (planted exact + near dups land in the same cluster) AND against a
    recursive-CTE closure oracle in DuckDB.
    """
    pairs = q_dedup_ngram(spark, sf_dir)
    labels = connected_components(pairs)
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    ).orderBy("cluster_id", "doc_id")


# ---------------------------------------------------------------------------
# Incremental cross-corpus dedup (north star) — new batch vs persisted
# signature store
# ---------------------------------------------------------------------------

# Every dedup op above dedups a corpus against itself — the rare
# full-rebuild path. The call a production pipeline makes daily is
# "dedup TODAY'S drop against the existing corpus": signatures are
# written ONCE at ingest to a persisted, bucketed store, and each new
# batch joins its own (tiny) signature set against it. The store is the
# 100 TB side and must never reshuffle per batch — it is bucketed by
# band_key at ingest (operators/layout.py machinery), so the per-batch
# join either broadcasts the batch signatures (small drop, the default
# plan) or shuffles ONLY the batch side into the store's bucketing
# (large drop; plan-audited: exactly one band_key Exchange, on the
# batch side — see plans/audit.py).
#
# The fixture models the split deterministically: doc_id % _STORE_MOD
# != 0 is the existing corpus (80%), == 0 is the new drop (20%) — so
# the DuckDB oracle can replay store-build + batch-join exactly.

_STORE_MOD = 5


def _corpus_tag(sf_dir: str) -> str:
    """Identifier-safe tag for a corpus path: md5 of the FULL path
    (matching sources/sinks.py ``_scratch``), never a path suffix —
    /a/sf0.01 and /b/sf0.01 are distinct corpora and must get distinct
    persisted stores."""
    import hashlib

    return hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]


def _band_key_rows(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """(doc_id, band_key) rows: minhash signature → one string key per
    band, band index folded into the key so the join is single-column
    (= the store's bucketing column).

    Same signature expression as q_dedup_minhash (one codegen'd
    ``aggregate`` fold, each shingle hashed once); docs with < 3 words
    carry no signature (empty shingle set ⇒ init-value signature would
    collide universally — the same skew bomb q_dedup_minhash drops).
    """
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    sig_row = (
        docs.repartition(n_part)
        .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select("doc_id", F.expr(_minhash_sig_sql()).alias("sig"))
    )
    n_bands = _MINHASH_K // _BAND_ROWS
    keys = F.array(
        *[
            F.concat_ws(
                ",",
                F.lit(str(b)),
                *[
                    F.element_at("sig", b * _BAND_ROWS + r + 1)
                    for r in range(_BAND_ROWS)
                ],
            )
            for b in range(n_bands)
        ]
    )
    return sig_row.select("doc_id", F.explode(keys).alias("band_key"))


def ensure_signature_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per corpus) the persisted band-signature store:
    ``(doc_id, band_key)`` for every existing-corpus document, written
    ``bucketBy(8, band_key)`` + in-bucket sorted, hot buckets (> cap
    members — boilerplate that yields O(n) candidates and no signal)
    dropped AT INGEST so no batch ever pays for them.

    Ingest-time work, amortized over every subsequent batch — the same
    economics as operators/layout.py's bucketed twins. A later session
    re-registers the existing files with DDL instead of rewriting.
    """
    from pyspark.sql import Window as W

    from asyncdatapipeline_spark.operators.layout import (
        _LAYOUT_DIR,
        register_existing_bucketed,
        write_bucketed,
    )

    # Table name keyed on a digest of the FULL corpus path (same scheme
    # as sources/sinks.py _scratch): two corpora whose paths merely share
    # a suffix (/a/sf0.01 vs /b/sf0.01) must never collide into one store.
    tbl = f"sigstore_b_{_corpus_tag(sf_dir)}"
    if spark.catalog.tableExists(tbl):
        return tbl
    if register_existing_bucketed(spark, tbl):
        return tbl
    import shutil

    shutil.rmtree(_LAYOUT_DIR / tbl, ignore_errors=True)
    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _STORE_MOD != 0
    )
    rows = _band_key_rows(corpus, spark)
    # Hot-bucket cap via a count window — one shuffle, at ingest only.
    n_in_bucket = F.count(F.lit(1)).over(W.partitionBy("band_key"))
    ok = rows.withColumn("n", n_in_bucket).filter(
        F.col("n") <= _BUCKET_CAP
    ).drop("n")
    write_bucketed(ok, tbl, ["band_key"])
    return tbl


def _incremental_oracle_sql() -> str:
    """DuckDB replay of store-build + batch-join: same signatures, same
    band keys, same store-side hot-bucket cap, same %-split."""
    p = _MINHASH_P
    lanes = ",\n    ".join(
        f"min(({_MINHASH_A[i]} * h + {_MINHASH_B[i]}) % {p}) AS s{i}"
        for i in range(_MINHASH_K)
    )
    n_bands = _MINHASH_K // _BAND_ROWS
    bands = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {key} AS band_key FROM sig".format(
            key=" || ',' || ".join(
                [f"'{b}'"]
                + [
                    f"s{b * _BAND_ROWS + r}::VARCHAR"
                    for r in range(_BAND_ROWS)
                ]
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
  FROM ws
),
hs AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::UBIGINT::BIGINT % {p} AS h
  FROM sh
),
sig AS (
  SELECT doc_id,
    {lanes}
  FROM hs GROUP BY doc_id
),
bands AS (
  {bands}
),
store AS (SELECT * FROM bands WHERE doc_id % {_STORE_MOD} != 0),
scnt AS (SELECT band_key, count(*) AS n FROM store GROUP BY 1),
sok AS (
  SELECT s.doc_id, s.band_key
  FROM store s JOIN scnt USING (band_key) WHERE scnt.n <= {_BUCKET_CAP}
),
batch AS (SELECT * FROM bands WHERE doc_id % {_STORE_MOD} = 0)
SELECT b.doc_id AS new_doc_id, s.doc_id AS store_doc_id,
       count(*) AS shared_bands
FROM batch b JOIN sok s USING (band_key)
GROUP BY 1, 2
"""


@query("q_dedup_incremental", oracle=_incremental_oracle_sql())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus near-dup detection: the NEW batch
    (doc_id % 5 == 0) against the PERSISTED signature store of the
    existing corpus (doc_id % 5 != 0) — the dedup call a production
    pipeline makes per drop, where within-corpus dedup (q_dedup_minhash)
    is the rare full rebuild.

    Shape at 100 TB: the store is band-key-bucketed parquet written at
    ingest (``ensure_signature_store``); the batch computes its own
    signatures (map-only over the new docs) and joins on band_key.
    Catalyst broadcasts the batch side when it is dim-sized (the normal
    drop); when it is not, only the batch shuffles into the store's
    bucketing — the store is never re-hashed, re-sorted, or
    re-signatured (plan-audited: one band_key Exchange, batch side).
    Output is one row per (new doc, store doc) candidate pair with the
    shared-band count, ready for the exact verifier (q_dedup_ngram's
    Jaccard) exactly like the within-corpus path.
    """
    from asyncdatapipeline_spark.operators.layout import _LAYOUT_DIR

    tbl = ensure_signature_store(spark, sf_dir)
    store = spark.table(tbl)
    # Re-apply the hot-bucket cap at READ time ONLY on appended stores:
    # appends (append_to_signature_store) deliberately do not re-scan the
    # store, so a bucket can grow past _BUCKET_CAP between compactions —
    # the _APPENDED marker records exactly that. On a never-appended
    # store every bucket was capped at ingest, so the window is a
    # provable no-op; skipping it there removes the per-read window CPU
    # (the +18% the round-5 bench measured) while keeping appended
    # stores oracle-consistent (tests/test_llm.py appends and asserts
    # the cap re-engages). When it does run, the count window clusters
    # on band_key, which the bucketed layout already provides — no
    # Exchange lands on the store branch (plan-audited).
    if (_LAYOUT_DIR / tbl / "_APPENDED").exists():
        n_in_bucket = F.count(F.lit(1)).over(W.partitionBy("band_key"))
        store = (
            store.withColumn("n", n_in_bucket)
            .filter(F.col("n") <= _BUCKET_CAP)
            .drop("n")
        )
    batch_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _STORE_MOD == 0
    )
    batch = _band_key_rows(batch_docs, spark)
    return (
        batch.alias("b")
        .join(store.alias("s"), F.col("b.band_key") == F.col("s.band_key"))
        .groupBy(
            F.col("b.doc_id").alias("new_doc_id"),
            F.col("s.doc_id").alias("store_doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


# ---------------------------------------------------------------------------
# Chunk-level exact dedup (north star) — boilerplate suppression
# ---------------------------------------------------------------------------

# Whole-document exact dedup (q_dedup_exact) misses the dominant
# duplication mode in web corpora: boilerplate CHUNKS (headers, nav
# text, license blocks) repeated across otherwise-distinct documents.
# Chunk-level dedup finds them: hash every chunk, count how many
# distinct documents each chunk appears in, and score each document by
# the fraction of its chunks that are corpus-wide boilerplate.

_CHUNK_BOILER_MIN_DOCS = 5   # chunk in ≥ this many docs ⇒ boilerplate
_CHUNK_FLAG_FRAC = 0.5       # doc flagged when ≥ half its chunks are


@query(
    "q_dedup_chunk",
    oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
  FROM ws
),
hs AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::UBIGINT::BIGINT AS h
  FROM sh
),
boiler AS (
  SELECT h FROM hs GROUP BY h
  HAVING count(*) >= {_CHUNK_BOILER_MIN_DOCS}
),
scored AS (
  SELECT hs.doc_id,
         count(*) AS n_chunks,
         count(b.h) AS n_boiler
  FROM hs LEFT JOIN boiler b USING (h)
  GROUP BY hs.doc_id
)
SELECT doc_id, n_chunks, n_boiler,
       round(n_boiler * 1.0 / n_chunks, 6) AS boiler_frac,
       n_boiler * 1.0 / n_chunks >= {_CHUNK_FLAG_FRAC} AS flagged
FROM scored ORDER BY doc_id
""",
)
def q_dedup_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup / boilerplate scoring (north-star dedup
    family): per document, how many of its distinct 3-word chunks are
    corpus-wide boilerplate (shared by ≥ {min} documents), and a flag
    when that fraction crosses {frac}.

    Two-pass shape that scales (the decontam doctrine, llm/filtering.py):

    1. chunk → 60-bit hash (md5-derived, cross-engine reproducible) →
       groupBy hash with map-side partial counts — the shuffle carries
       8-byte hashes, never chunk text; the surviving boilerplate set is
       tiny (doc-freq ≥ {min} chunks only);
    2. re-scan the corpus, LEFT-join each doc's chunk hashes against the
       broadcast boilerplate set, aggregate per doc. The corpus never
       shuffles on chunk text; the only corpus-keyed shuffle is the
       final per-doc aggregation on doc_id.

    Whole-document dedup cannot see these (the documents hash
    differently); the planted-boilerplate test in tests/test_llm.py
    demonstrates exactly that miss.
    """
    d = load_table(spark, sf_dir, "documents")
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    h60 = "cast(conv(substr(md5(s.sh), 1, 15), 16, 10) as bigint)"
    hs = (
        d.repartition(n_part)
        .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select(
            "doc_id",
            F.explode(_shingle_array(F.col("text"))).alias("sh"),
        )
        .alias("s")
        .select("doc_id", F.expr(h60).alias("h"))
    )
    boiler = (
        hs.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _CHUNK_BOILER_MIN_DOCS)
        .select("h", F.lit(True).alias("is_boiler"))
    )
    frac = F.col("n_boiler") / F.col("n_chunks")
    return (
        hs.join(F.broadcast(boiler), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count("is_boiler").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_boiler",
            F.round(frac, 6).alias("boiler_frac"),
            (frac >= _CHUNK_FLAG_FRAC).alias("flagged"),
        )
        .orderBy("doc_id")
    )


def ensure_exact_hash_store(spark: SparkSession, sf_dir: str) -> str:
    """Persisted EXACT-dedup store: the distinct md5(text) digests of
    the existing corpus, bucketed by hash — the companion to
    :func:`ensure_signature_store` for exact (not near-) dedup. 32-byte
    digests only; the corpus text never leaves its scan."""
    import shutil

    from asyncdatapipeline_spark.operators.layout import (
        _LAYOUT_DIR,
        register_existing_bucketed,
        write_bucketed,
    )

    tbl = f"hashstore_b_{_corpus_tag(sf_dir)}"
    if spark.catalog.tableExists(tbl):
        return tbl
    if register_existing_bucketed(spark, tbl):
        return tbl
    shutil.rmtree(_LAYOUT_DIR / tbl, ignore_errors=True)
    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _STORE_MOD != 0
    )
    digests = corpus.select(
        F.md5(F.col("text").cast("binary")).alias("text_hash")
    ).distinct()
    write_bucketed(digests, tbl, ["text_hash"])
    return tbl


@query(
    "q_dedup_incremental_exact",
    oracle=f"""
WITH store AS (
  SELECT DISTINCT md5(text) AS text_hash FROM documents
  WHERE doc_id % {_STORE_MOD} != 0
)
SELECT d.doc_id, md5(d.text) AS text_hash,
       s.text_hash IS NULL AS novel
FROM documents d LEFT JOIN store s ON md5(d.text) = s.text_hash
WHERE d.doc_id % {_STORE_MOD} = 0
ORDER BY d.doc_id
""",
)
def q_dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental dedup: is each NEW-batch document's content
    already in the existing corpus? — the cheapest and most frequent
    form of the per-drop dedup call (q_dedup_incremental is its near-dup
    sibling).

    The batch hashes its own text map-side and LEFT-joins the persisted
    digest store on the 32-byte hash; `novel` is the survival flag the
    ingest gate filters on. Same scale shape as the signature store:
    batch broadcasts when dim-sized, otherwise only the batch shuffles
    into the store's bucketing — the 100 TB digest store is scanned,
    never reshuffled, and text never crosses the wire at all.
    """
    store = spark.table(ensure_exact_hash_store(spark, sf_dir))
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _STORE_MOD == 0
    )
    hashed = batch.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash")
    )
    return (
        hashed.alias("b")
        .join(
            store.alias("s"),
            F.col("b.text_hash") == F.col("s.text_hash"),
            "left",
        )
        .select(
            "b.doc_id",
            F.col("b.text_hash").alias("text_hash"),
            F.col("s.text_hash").isNull().alias("novel"),
        )
        .orderBy("doc_id")
    )


def append_to_signature_store(
    spark: SparkSession, sf_dir: str, new_docs: DataFrame
) -> str:
    """Store MAINTENANCE: after a batch passes dedup, append its band
    signatures into the persisted store so the NEXT drop dedups against
    it too — the write half of the incremental-dedup lifecycle.

    ``insertInto`` preserves the table's bucketing spec (each appended
    file lands hashed into the right bucket), so the store stays
    join-ready without a rewrite; periodic compaction of small appended
    files is ordinary bucketed-table maintenance. Hot-bucket suppression
    is re-evaluated at READ time (q_dedup_incremental re-applies the
    cap via a count window) — appends must not re-scan the store.

    ORACLE-VALIDITY CAVEAT: the DuckDB oracle for q_dedup_incremental
    replays the store purely from the ``documents`` table (the
    ``doc_id % 5 != 0`` split), so it cannot see appended rows — oracle
    verification is only exact on never-appended stores. An ``_APPENDED``
    marker is written into the table directory so tools/tests can detect
    (and tests/test_llm.py does detect) that a store has diverged from
    its pure replay; oracle-checked corpora (the driver's sf dirs) are
    never appended to.
    """
    from asyncdatapipeline_spark.operators.layout import _LAYOUT_DIR

    tbl = ensure_signature_store(spark, sf_dir)
    rows = _band_key_rows(new_docs, spark)
    # Column order must match the table spec (doc_id, band_key).
    rows.select("doc_id", "band_key").write.insertInto(tbl, overwrite=False)
    (_LAYOUT_DIR / tbl / "_APPENDED").touch()
    return tbl


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape) — centroid cells + within-cell cosine
# ---------------------------------------------------------------------------

# The one major published dedup family not yet composed as a single
# operator: cluster the corpus embeddings, then flag near-identical
# vectors WITHIN each cluster cell (Abbas et al., "SemDeDup", 2023 —
# public paper). Exact all-pairs cosine over 100 TB is forbidden; the
# cluster pass reduces it to per-cell all-pairs, and the cell count is
# the knob (nlist ~ sqrt(n) at scale keeps cells bounded).

_SEM_COS_THRESHOLD = 0.93
_SEM_CELL_CAP = 2000  # degenerate-cell guardrail (same policy as LSH)


def _semantic_keyed_cte() -> str:
    """Shared CTE chain ending in ``keyed(vec_id, label, v, cell,
    cellb)`` — the (nearest, SECOND-nearest)-centroid pairing key: rn=1
    and rn=2 of the same (dist, cidx) ranking the cells CTE built.
    Near-identical vectors (cos ≥ 0.93 ⇒ ~21° apart) have nearly
    identical centroid distances, so they share both; unrelated vectors
    that merely share a nearest cell usually split on the second — pair
    count drops ~(nlist-1)× for free. Used by q_dedup_semantic and
    q_dedup_semantic_incremental, which therefore provably share one
    index."""
    from asyncdatapipeline_spark.llm.similarity import ivf_cells_cte

    return f"""{ivf_cells_cte()},
cell2 AS (
  SELECT vec_id, cidx AS cellb FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cidx) AS rn
    FROM d
  ) WHERE rn = 2
),
keyed AS (
  SELECT c.vec_id, c.label, c.v, c.cell, COALESCE(c2.cellb, 0) AS cellb
  FROM cell c LEFT JOIN cell2 c2 USING (vec_id)
)"""


def _semantic_oracle_sql() -> str:
    return f"""
WITH {_semantic_keyed_cte()},
capped AS (
  SELECT keyed.* FROM keyed
  JOIN (SELECT cell, cellb, count(*) AS cn FROM keyed GROUP BY cell, cellb
        HAVING count(*) <= {_SEM_CELL_CAP}) z USING (cell, cellb)
),
dups AS (
  SELECT a.vec_id, count(*) AS n_near
  FROM capped a JOIN capped b
    ON a.cell = b.cell AND a.cellb = b.cellb AND b.vec_id < a.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {_SEM_COS_THRESHOLD}
  GROUP BY a.vec_id
)
SELECT k.vec_id, k.label, k.cell,
       COALESCE(d.n_near, 0) AS n_near,
       COALESCE(d.n_near, 0) > 0 AS is_semdup
FROM keyed k LEFT JOIN dups d USING (vec_id)
ORDER BY k.vec_id
"""


def _sem_dot(u, v):
    """Sequential left-to-right double dot fold — the
    list_cosine_similarity-replayable form (q_dedup_embed discipline)."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Materialized cell-index cache, keyed by (applicationId, sf_dir) —
# the same ingest-time economics as similarity._IVF_CACHE: the keyed
# corpus is the persisted layout, not per-query work.
_SEM_CELLS_CACHE: dict = {}


def _semantic_keyed_frame(spark: SparkSession, sf_dir: str):
    """Engine twin of :func:`_semantic_keyed_cte`: the corpus with its
    (nearest, SECOND-nearest)-centroid pairing key, lineage-truncated
    once (multiple consumers would otherwise re-evaluate the whole
    assignment chain — SCALING.md pitfall; at 100 TB this
    materialization IS the cell-partitioned ingest layout, so it is
    cached per (session, corpus) like the IVF centroids). Returns
    None for an empty corpus (no centroids). Both argmins come from ONE
    let-bound distance array (ties → lowest index, then next-lowest,
    matching the oracle's (dist, cidx) row_number ranking).
    """
    from asyncdatapipeline_spark.llm.similarity import (
        _as_double,
        _ivf_centroids,
        _sqdist_expr,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _SEM_CELLS_CACHE:
        return _SEM_CELLS_CACHE[key]

    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "v", _as_double(F.col("embedding"))
    )
    centers = _ivf_centroids(spark, sf_dir, e)
    if not centers:
        return None
    dist_arr = F.array(*[_sqdist_expr(F.col("v"), c) for c in centers])

    def argmins(t):
        da = t["da"]
        first = F.array_position(da, F.array_min(da)) - 1
        masked = F.transform(
            da,
            lambda x, i: F.when(
                i == first, F.lit(float("inf"))
            ).otherwise(x),
        )
        return F.struct(
            first.cast("long").alias("cell"),
            (F.array_position(masked, F.array_min(masked)) - 1)
            .cast("long")
            .alias("cellb"),
        )

    bound = F.element_at(
        F.transform(F.array(F.struct(dist_arr.alias("da"))), argmins), 1
    )
    cells = e.select(
        "vec_id",
        "label",
        "v",
        bound.getField("cell").alias("cell"),
        bound.getField("cellb").alias("cellb"),
    )
    out = cells.localCheckpoint(eager=False)
    _SEM_CELLS_CACHE[key] = out
    return out


@query("q_dedup_semantic", oracle=_semantic_oracle_sql())
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup shape (public paper: Abbas et al. 2023):
    assign every embedding to its IVF centroid cell, then flag vectors
    whose cosine to a LOWER-id cell peer clears the threshold —
    keep-lowest-id, the same deterministic survivor rule as the exact
    and MinHash families.

    Composition, not a new index: the cells come from the SAME
    seed+Lloyd quantizer as q_sim_ivf (one build, cached per corpus —
    at 100 TB this is the ingest-time cell-partitioned layout), and the
    within-cell pass is the per-bucket all-pairs shape of
    q_dedup_embed_lsh. The pairing key is (nearest, SECOND-nearest)
    centroid — near-identical vectors share both, unrelated same-cell
    vectors usually split on the second, so pair work drops
    ~(nlist-1)× over nearest-only cells (measured at sf0.1: 1.5M →
    37k pairs) while nlist ~ sqrt(n) remains the primary scale knob.
    Keys past _SEM_CELL_CAP (degenerate embedding regions) are
    excluded from pairing by the same count-first guardrail as hot LSH
    buckets, and their members report n_near = 0. Cosines run as the
    sequential double fold DuckDB's list_cosine_similarity replays
    bit-for-bit (the q_dedup_embed discipline), so the flag column
    hash-matches.

    Output: one row per vector — (vec_id, label, cell, n_near,
    is_semdup); the curation gate filters on ``NOT is_semdup``.
    """
    cells = _semantic_keyed_frame(spark, sf_dir)
    if cells is None:
        e = load_table(spark, sf_dir, "embeddings")
        return e.select(
            "vec_id",
            "label",
            F.lit(0).cast("long").alias("cell"),
            F.lit(0).cast("long").alias("n_near"),
            F.lit(False).alias("is_semdup"),
        ).limit(0)
    capped = (
        cells.withColumn(
            "cn",
            F.count(F.lit(1)).over(W.partitionBy("cell", "cellb")),
        )
        .filter(F.col("cn") <= _SEM_CELL_CAP)
        .drop("cn")
    )
    dot = _sem_dot
    a = capped.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cell").alias("cell_a"),
        F.col("cellb").alias("cellb_a"),
        F.col("v").alias("va"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("na"),
    )
    b = capped.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cell").alias("cell_b"),
        F.col("cellb").alias("cellb_b"),
        F.col("v").alias("vb"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    dups = (
        a.join(
            b,
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("cellb_a") == F.col("cellb_b"))
            & (F.col("vec_b") < F.col("vec_a")),
        )
        .filter(cos >= _SEM_COS_THRESHOLD)
        .groupBy(F.col("vec_a").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_near_raw"))
    )
    return (
        cells.drop("cellb").join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cell",
            F.coalesce(F.col("n_near_raw"), F.lit(0).cast("long")).alias(
                "n_near"
            ),
            (F.coalesce(F.col("n_near_raw"), F.lit(0)) > 0).alias(
                "is_semdup"
            ),
        )
        .orderBy("vec_id")
    )


@query(
    "q_dedup_semantic_incremental",
    oracle=f"""
WITH {_semantic_keyed_cte()},
store AS (
  SELECT keyed.* FROM keyed
  JOIN (SELECT cell, cellb, count(*) AS cn FROM keyed
        WHERE vec_id % {_STORE_MOD} != 0
        GROUP BY cell, cellb
        HAVING count(*) <= {_SEM_CELL_CAP}) z USING (cell, cellb)
  WHERE vec_id % {_STORE_MOD} != 0
),
batch AS (SELECT * FROM keyed WHERE vec_id % {_STORE_MOD} = 0),
hits AS (
  SELECT b.vec_id, count(*) AS n_matches
  FROM batch b JOIN store s
    ON b.cell = s.cell AND b.cellb = s.cellb
  WHERE list_cosine_similarity(b.v, s.v) >= {_SEM_COS_THRESHOLD}
  GROUP BY b.vec_id
)
SELECT b.vec_id, b.label, b.cell,
       COALESCE(h.n_matches, 0) AS n_matches,
       COALESCE(h.n_matches, 0) > 0 AS is_dup
FROM batch b LEFT JOIN hits h USING (vec_id)
ORDER BY b.vec_id
""",
)
def q_dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup — the per-drop call of the SemDeDup
    family, completing the incremental triad (exact digests B72b,
    MinHash signatures B72, embedding cells here): is each NEW-batch
    vector (vec_id % 5 == 0) a semantic duplicate of the EXISTING
    corpus (vec_id % 5 != 0)?

    Scale shape: the corpus side is the persisted cell-keyed layout the
    shared quantizer wrote at ingest (same (cell, cellb) key and cap as
    q_dedup_semantic — one index serves full and incremental); the
    batch assigns its own cells map-only and joins the store ONLY on
    its keys — at 100 TB the store partitions not matching any batch
    key are never read (partition pruning on the cell key), and the
    batch side broadcasts when drop-sized. Only store-side degenerate
    keys are capped; the batch is never dropped — every new vector gets
    a verdict.
    """
    keyed = _semantic_keyed_frame(spark, sf_dir)
    if keyed is None:
        e = load_table(spark, sf_dir, "embeddings")
        return e.select(
            "vec_id",
            "label",
            F.lit(0).cast("long").alias("cell"),
            F.lit(0).cast("long").alias("n_matches"),
            F.lit(False).alias("is_dup"),
        ).limit(0)
    store_all = keyed.filter(F.col("vec_id") % _STORE_MOD != 0)
    store = (
        store_all.withColumn(
            "cn", F.count(F.lit(1)).over(W.partitionBy("cell", "cellb"))
        )
        .filter(F.col("cn") <= _SEM_CELL_CAP)
        .drop("cn")
    )
    batch = keyed.filter(F.col("vec_id") % _STORE_MOD == 0)
    b = batch.select(
        F.col("vec_id").alias("b_id"),
        F.col("cell").alias("b_cell"),
        F.col("cellb").alias("b_cellb"),
        F.col("v").alias("bv"),
        F.sqrt(_sem_dot(F.col("v"), F.col("v"))).alias("bn"),
    )
    s = store.select(
        F.col("cell").alias("s_cell"),
        F.col("cellb").alias("s_cellb"),
        F.col("v").alias("sv"),
        F.sqrt(_sem_dot(F.col("v"), F.col("v"))).alias("sn"),
    )
    cos = _sem_dot(F.col("bv"), F.col("sv")) / (F.col("bn") * F.col("sn"))
    hits = (
        b.join(
            s,
            (F.col("b_cell") == F.col("s_cell"))
            & (F.col("b_cellb") == F.col("s_cellb")),
        )
        .filter(cos >= _SEM_COS_THRESHOLD)
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_matches_raw"))
    )
    return (
        batch.join(hits, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cell",
            F.coalesce(F.col("n_matches_raw"), F.lit(0).cast("long")).alias(
                "n_matches"
            ),
            (F.coalesce(F.col("n_matches_raw"), F.lit(0)) > 0).alias(
                "is_dup"
            ),
        )
        .orderBy("vec_id")
    )


@query(
    "q_dedup_corpus_overlap",
    oracle="""
WITH h AS (
  SELECT DISTINCT source, md5(text) AS hsh FROM documents
  WHERE text IS NOT NULL
),
sz AS (SELECT source, count(*) AS n FROM h GROUP BY 1),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM h a JOIN h b ON a.hsh = b.hsh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.source_a, s.source_b, s.n_shared,
       za.n AS n_a, zb.n AS n_b,
       round(s.n_shared * 1.0 / (za.n + zb.n - s.n_shared), 6) AS jaccard
FROM shared s
JOIN sz za ON za.source = s.source_a
JOIN sz zb ON zb.source = s.source_b
ORDER BY source_a, source_b
""",
)
def q_dedup_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET-level exact overlap: Jaccard between every pair of
    sources over their distinct content digests — the catalog-dedup
    question ("is dump B a re-crawl of dump A?") that doc-level dedup
    answers one document at a time and q_agg_sketch_setops only
    estimates. Published pipelines run exactly this before admitting a
    new dump (a high-overlap pair means dedup-against, not union).

    Scale shape: text never leaves its scan — the join key is the
    32-byte digest, the self-join matches only EQUAL digests (each
    digest appears in ≤ |sources| rows, so the per-key blowup is
    bounded by the source count, not the corpus), and the output is
    O(|sources|²) pairs with any shared content. At 100 TB with many
    corpora the digest sets persist per source (the incremental-exact
    store, B72b) and this query joins stores, not corpora; the theta
    sketch (B23c) is the pre-flight that decides which pairs are worth
    the exact join.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    h = d.select(
        "source", F.md5(F.col("text").cast("binary")).alias("hsh")
    ).distinct()
    sz = h.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = h.select(F.col("source").alias("source_a"), "hsh")
    b = h.select(F.col("source").alias("source_b"), "hsh")
    shared = (
        a.join(b, "hsh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    za = sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    jac = F.col("n_shared") * 1.0 / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return (
        shared.join(za, "source_a")
        .join(zb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment (excerpt / quote detection) — exact, oracle-checked
# ---------------------------------------------------------------------------

# Jaccard misses the excerpt case BY CONSTRUCTION: a 50-shingle quote
# inside a 5000-shingle article scores J ~ 0.01 but containment 1.0.
# Containment C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)| is the right statistic
# for "doc A is substantially inside doc B" — press-release laundering,
# quote farms, boilerplate-wrapped reposts.

_CONTAINMENT_THRESHOLD = 0.5


@query(
    "q_text_containment",
    oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
  FROM ws
),
cold AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) <= {_HOT_SHINGLE_MAX_DOCS}
),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN cold USING (shingle)),
cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
directed AS (
  SELECT
    CASE WHEN ca.n < cb.n OR (ca.n = cb.n AND p.doc_a < p.doc_b)
         THEN p.doc_a ELSE p.doc_b END AS excerpt_doc,
    CASE WHEN ca.n < cb.n OR (ca.n = cb.n AND p.doc_a < p.doc_b)
         THEN p.doc_b ELSE p.doc_a END AS host_doc,
    CASE WHEN ca.n < cb.n OR (ca.n = cb.n AND p.doc_a < p.doc_b)
         THEN ca.n ELSE cb.n END AS n_excerpt,
    CASE WHEN ca.n < cb.n OR (ca.n = cb.n AND p.doc_a < p.doc_b)
         THEN cb.n ELSE ca.n END AS n_host,
    p.shared
  FROM pairs p
  JOIN cnt ca ON ca.doc_id = p.doc_a
  JOIN cnt cb ON cb.doc_id = p.doc_b
)
SELECT excerpt_doc, host_doc, n_excerpt, n_host, shared,
       round(shared * 1.0 / n_excerpt, 6) AS containment
FROM directed
WHERE shared * 1.0 / n_excerpt >= {_CONTAINMENT_THRESHOLD}
""",
)
def q_text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs (excerpt/quote detection):
    the smaller document's shingle-set coverage inside the larger one —
    C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)|. The near-dup family's missing
    direction: Jaccard (q_dedup_ngram) scores a 50-shingle quote inside
    a 5000-shingle article ~0.01, containment scores it 1.0 — exactly
    the repost/quote-farm pattern symmetric dedup keeps.

    Same scale machinery as the Jaccard verifier (shared shingle
    explode → hot-shingle suppression → shingle-key self-join →
    per-pair intersection counts — never all-pairs); the direction is
    decided per pair AFTER the counts (smaller side = excerpt,
    doc-id tiebreak), so both engines pick the identical orientation.
    The ratio is one exact-integer IEEE division, rounded at 6dp.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(_shingle_array(F.col("text"))).alias("shingle")
    )
    cold = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _HOT_SHINGLE_MAX_DOCS)
        .select("shingle")
    )
    shc = sh.join(cold, "shingle").localCheckpoint(eager=False)
    cnt = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shc.alias("a")
    b = shc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    j = (
        pairs.join(
            cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        ).join(
            cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
    )
    a_is_excerpt = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))
    )
    pick = lambda x, y: F.when(a_is_excerpt, x).otherwise(y)  # noqa: E731
    directed = j.select(
        pick(F.col("doc_a"), F.col("doc_b")).alias("excerpt_doc"),
        pick(F.col("doc_b"), F.col("doc_a")).alias("host_doc"),
        pick(F.col("na"), F.col("nb")).alias("n_excerpt"),
        pick(F.col("nb"), F.col("na")).alias("n_host"),
        "shared",
    )
    containment = F.col("shared") * 1.0 / F.col("n_excerpt")
    return directed.filter(containment >= _CONTAINMENT_THRESHOLD).select(
        "excerpt_doc",
        "host_doc",
        "n_excerpt",
        "n_host",
        "shared",
        F.round(containment, 6).alias("containment"),
    )


# ---------------------------------------------------------------------------
# Normalized exact dedup — the "near-exact" tier between md5 and MinHash
# ---------------------------------------------------------------------------

# Most real duplicate pairs differ only in case, punctuation, or
# whitespace (re-encodes, scrapes of the same page, copy-paste with a
# trailing newline). Hashing a NORMALIZED form catches that entire tier
# at exact-dedup cost — production pipelines hash normalized text by
# default and reserve MinHash for genuine near-dups.


@query(
    "q_dedup_exact_norm",
    # Normalization is lower + strip [.,!?;:'\"] + collapse whitespace +
    # trim — simple character classes where Java regex and RE2 agree;
    # md5 of the result is recomputed bit-for-bit in DuckDB.
    oracle="""
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[.,!?;:''"]', '', 'g'),
               ' +', ' ', 'g'))) AS norm_hash,
         md5(text) AS raw_hash
  FROM documents
),
g AS (
  SELECT norm_hash,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants,
         min(doc_id) AS survivor_id
  FROM n GROUP BY norm_hash
)
SELECT norm_hash, n_docs, n_raw_variants, survivor_id,
       n_raw_variants > 1 AS merged_variants
FROM g
""",
)
def q_dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: group by md5 of case-folded,
    punctuation-stripped, whitespace-collapsed text — the near-exact
    tier between q_dedup_exact (byte-identical only) and
    q_dedup_minhash (true near-dups). Catches the dominant real-world
    duplicate mode (re-encodes, same page scraped twice, trailing
    whitespace) at plain hash-aggregate cost: no shingling, no
    signatures, no self-join.

    Same scale shape as q_dedup_exact: normalization is row-local
    codegen (three chained string expressions), the group-by ships
    32-byte digests (text never shuffles), counts combine map-side.
    `n_raw_variants > 1` marks groups where normalization actually
    merged byte-distinct docs — the tier's added catch over raw md5,
    planted-variant tested in pytest.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[.,!?;:'\"]", ""),
            " +",
            " ",
        )
    )
    n = d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("norm_hash"),
        F.md5(F.col("text").cast("binary")).alias("raw_hash"),
    )
    return n.groupBy("norm_hash").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("raw_hash").alias("n_raw_variants"),
        F.min("doc_id").alias("survivor_id"),
    ).select(
        "norm_hash",
        "n_docs",
        "n_raw_variants",
        "survivor_id",
        (F.col("n_raw_variants") > 1).alias("merged_variants"),
    )


@query(
    "q_dedup_survivors",
    # Same closure oracle as q_dedup_clusters, then the survivor rule
    # re-scored: keep the LONGEST member (integer word count, doc_id
    # tiebreak) — all-integer argmax, no float in the rule.
    oracle=f"""
WITH RECURSIVE
p AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_NGRAM_ORACLE_SQL}) t),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM p
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach AS (
  SELECT doc_id, doc_id AS lbl FROM nodes
  UNION
  SELECT e.src AS doc_id, r.lbl
  FROM edges e JOIN reach r ON r.doc_id = e.dst
),
cl AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id),
scored AS (
  SELECT cl.doc_id, cl.cluster_id,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words
  FROM cl JOIN documents d ON d.doc_id = cl.doc_id
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
             ORDER BY n_words DESC, doc_id) AS r
  FROM scored
)
SELECT doc_id, cluster_id, n_words, r = 1 AS is_survivor
FROM rk ORDER BY cluster_id, doc_id
""",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection over near-dup clusters: within
    each connected component, keep the LONGEST member (word count,
    doc-id tiebreak) — the production survivor rule (min-id keeps an
    arbitrary variant; real pipelines keep the most complete one: the
    full article over its syndicated excerpt, which near-dup clusters
    routinely contain). Completes the dedup lifecycle: candidates
    (MinHash/LSH) → verification (exact Jaccard) → clusters
    (components) → THIS: who survives.

    Shape: reuses the session-cached exact-Jaccard pair frame and the
    same bounded label propagation as q_dedup_clusters (one shuffle
    per round, lineage truncated per round); the re-score joins the
    |clustered docs| frame — a vanishing fraction of the corpus —
    back to word counts, and the argmax is one window on the tiny
    clustered frame. The rule is all-integer, so no engine can
    disagree at a quality tie.
    """
    pairs = q_dedup_ngram(spark, sf_dir)
    labels = connected_components(pairs)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_words")
    )
    scored = labels.join(d, "doc_id")
    rk = F.row_number().over(
        W.partitionBy("cluster_id").orderBy(F.col("n_words").desc(), "doc_id")
    )
    return (
        scored.withColumn("r", rk)
        .select(
            "doc_id", "cluster_id", "n_words", (F.col("r") == 1).alias("is_survivor")
        )
        .orderBy("cluster_id", "doc_id")
    )


@query(
    "q_dedup_transactions",
    # The payments feed plants duplicates deterministically (every %97
    # order re-submitted next day under key +5e8), so both engines
    # replay the same dup set. All-integer band arithmetic; price
    # matches in exact DECIMAL.
    oracle="""
WITH pay AS (
  SELECT o_orderkey AS k, o_custkey AS c,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS d
  FROM orders
  UNION ALL
  SELECT o_orderkey + 500000000, o_custkey,
         CAST(o_totalprice AS DECIMAL(18,2)),
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) + 1
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT a.c AS o_custkey,
       round(CAST(a.p AS DOUBLE), 2) AS amount,
       a.k AS k1, b.k AS k2,
       CAST(b.d - a.d AS BIGINT) AS gap_days
FROM pay a JOIN pay b
  ON b.c = a.c AND b.p = a.p AND b.k > a.k AND abs(b.d - a.d) <= 2
ORDER BY o_custkey, k1, k2
""",
)
def q_dedup_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection: flag payment pairs with the same
    (customer, exact amount) within a 2-day window — the transaction
    twin of document dedup (retry storms, double-submits, replayed
    batches; a plain exact dedup misses them because the re-submit has
    a NEW key and date). The payments feed derives from orders with
    planted next-day re-submissions (%97 keys, +5e8) so the oracle
    replays the identical dup set.

    Scale shape: NEVER a bare (customer, amount) self-join — a hot
    customer×amount pair would go quadratic. Days bin at width 3
    (≥ the 2-day window), one side expands to its neighbor bins
    (constant ×3 — window-straddling pairs land in a shared bin, and
    each true pair matches in exactly ONE expanded copy), and
    the join is EQUI on (cust, amount-DECIMAL, bin) with the exact
    |Δday| ≤ 2 and k1 < k2 predicates local to each bucket — the
    q_join_range binning applied to dedup. Amount matches compare in
    exact DECIMAL (double equality on money is the classic
    false-negative) and only day arithmetic is integer.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .alias("d"),
    )
    dups = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 500000000).alias("k"),
        F.col("o_custkey").alias("c"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        (
            F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long") + 1
        ).alias("d"),
    )
    pay = base.unionAll(dups)
    a = pay.select(
        "k", "c", "p", "d", F.expr("d div 3").alias("bin")
    ).alias("a")
    b = (
        pay.select("k", "c", "p", "d")
        .crossJoin(
            F.broadcast(
                spark.range(1).select(
                    F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias(
                        "off"
                    )
                )
            )
        )
        .select(
            F.col("k").alias("k2"),
            F.col("c").alias("c2"),
            F.col("p").alias("p2"),
            F.col("d").alias("d2"),
            (F.expr("d div 3") + F.col("off")).alias("bin"),
        )
        .alias("b")
    )
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c2"))
            & (F.col("a.p") == F.col("b.p2"))
            & (F.col("a.bin") == F.col("b.bin")),
        )
        .filter(
            (F.col("b.k2") > F.col("a.k"))
            & (F.abs(F.col("b.d2") - F.col("a.d")) <= 2)
        )
        .select(
            F.col("a.c").alias("o_custkey"),
            F.round(F.col("a.p").cast("double"), 2).alias("amount"),
            F.col("a.k").alias("k1"),
            F.col("b.k2").alias("k2"),
            (F.col("b.d2") - F.col("a.d")).cast("long").alias("gap_days"),
        )
        .orderBy("o_custkey", "k1", "k2")
    )


@query(
    "q_eval_dedup",
    # Truth = the exact-Jaccard pair set; candidates = the LSH banding.
    # Both oracles already exist; this composes them into the recall /
    # candidate-precision scorecard. All-integer counts, guarded ratios.
    oracle=f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({_NGRAM_ORACLE_SQL}) t
),
cand AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle_sql()}) c
),
hit AS (
  SELECT count(*) AS n FROM truth JOIN cand USING (doc_a, doc_b)
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST(hit.n AS BIGINT) AS n_hit,
       CASE WHEN (SELECT count(*) FROM truth) > 0
            THEN round(CAST(hit.n AS DOUBLE)
                       / (SELECT count(*) FROM truth), 6) END AS recall,
       CASE WHEN (SELECT count(*) FROM cand) > 0
            THEN round(CAST(hit.n AS DOUBLE)
                       / (SELECT count(*) FROM cand), 6)
       END AS candidate_precision
FROM hit
""",
)
def q_eval_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline evaluation scorecard: the MinHash LSH banding's
    candidate pairs scored against the EXACT 3-gram-Jaccard truth set
    — recall (what fraction of true near-dups ever collide in a band:
    the miss rate you tuned bands×rows for) and candidate precision
    (what fraction of candidates survive exact verification: the
    wasted-verification rate). The measurement that turns LSH
    parameter choices from folklore into numbers, runnable on any
    corpus slice before committing a full-corpus dedup.

    Scale shape: composes two existing oracle-verified pair sets
    (q_dedup_ngram = truth, q_dedup_minhash = candidates) with one
    join on the pair key and three counts — the pair frames are the
    expensive inputs and BOTH are already hot-shingle-capped /
    band-bucketed (never all-pairs); the scorecard itself is
    dimension-sized. On a 100 TB corpus you run this on a sampled
    slice (q_split_hash buckets give a deterministic one) — the
    recall estimate transfers because banding probability depends on
    Jaccard, not corpus size.
    """
    truth = q_dedup_ngram(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("t")
    )
    cand = q_dedup_minhash(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("c")
    )
    # ONE pass over each pair set: full outer on the pair key, then a
    # single global aggregate — no driver-side counts, no re-evaluation
    # of the banding/shingling pipelines per metric
    j = truth.join(cand, ["doc_a", "doc_b"], "full")
    agg = j.agg(
        F.sum(F.coalesce("t", F.lit(0))).cast("long").alias("n_true"),
        F.sum(F.coalesce("c", F.lit(0))).cast("long").alias("n_candidates"),
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_hit"),
    )
    return agg.select(
        "n_true",
        "n_candidates",
        "n_hit",
        F.when(
            F.col("n_true") > 0,
            F.round(F.col("n_hit").cast("double") / F.col("n_true"), 6),
        ).alias("recall"),
        F.when(
            F.col("n_candidates") > 0,
            F.round(
                F.col("n_hit").cast("double") / F.col("n_candidates"), 6
            ),
        ).alias("candidate_precision"),
    )


_LSH_TUNE_ROWS = (1, 2, 4)  # rows-per-band configs swept over the 16 lanes


def _lsh_tuning_oracle_sql() -> str:
    """DuckDB twin of the banding sweep: the SAME md5 signature CTE the
    q_dedup_minhash oracle uses (MATERIALIZED — each config references
    it per band), then per config the bucket-size census and the
    Σ C(n,2) candidate workload under the same 2..cap rule."""
    p = _MINHASH_P
    lanes = ",\n    ".join(
        f"min(({_MINHASH_A[i]} * h + {_MINHASH_B[i]}) % {p}) AS s{i}"
        for i in range(_MINHASH_K)
    )
    blocks = []
    selects = []
    for r in _LSH_TUNE_ROWS:
        n_bands = _MINHASH_K // r
        thr = round((1.0 / n_bands) ** (1.0 / r), 6)
        bands = "\n  UNION ALL\n  ".join(
            "SELECT doc_id, {b} AS band_idx, {key} AS band_hash FROM sig"
            .format(
                b=b,
                key=" || ',' || ".join(
                    f"s{b * r + i}::VARCHAR" for i in range(r)
                ),
            )
            for b in range(n_bands)
        )
        blocks.append(f"""
bz{r} AS (
  SELECT band_idx, band_hash, count(*) AS n FROM (
  {bands}
  ) GROUP BY 1, 2
),
cf{r} AS (
  SELECT {r} AS rows_per_band, {n_bands} AS n_bands,
         {thr} AS s_threshold,
         CAST(sum(CASE WHEN n BETWEEN 2 AND {_BUCKET_CAP} THEN 1
                       ELSE 0 END) AS BIGINT) AS n_buckets_multi,
         CAST(sum(CASE WHEN n > {_BUCKET_CAP} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hot_dropped,
         CAST(sum(CASE WHEN n BETWEEN 2 AND {_BUCKET_CAP}
                       THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT)
           AS candidate_pairs
  FROM bz{r}
)""")
        selects.append(f"SELECT * FROM cf{r}")
    return f"""
WITH ws AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
  FROM ws
),
hs AS MATERIALIZED (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::UBIGINT::BIGINT % {p} AS h
  FROM sh
),
sig AS MATERIALIZED (
  SELECT doc_id,
    {lanes}
  FROM hs GROUP BY doc_id
),{",".join(blocks)}
{" UNION ALL ".join(selects)}
ORDER BY rows_per_band
"""


@query("q_dedup_lsh_tuning", oracle=_lsh_tuning_oracle_sql())
def q_dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter sweep over ONE shared 16-lane minhash
    signature: for rows-per-band r ∈ {1, 2, 4} (→ 16/8/4 bands),
    emit the theoretical similarity threshold s* = (1/b)^(1/r) beside
    the MEASURED candidate workload — multi-doc bucket count, hot
    buckets the >cap guardrail would drop, and Σ C(n,2) verification
    pairs. This is the tuning table a dedup owner reads before
    committing a config at 100 TB: r=1 catches low-similarity pairs
    but explodes the verification bill; r=4 only pairs near-identical
    docs; the production default (r=2, q_dedup_minhash) sits where
    this table says it should. The sweep costs bucket CENSUSES, never
    materialized pairs — the whole point of deciding b/r from counts
    before paying for candidates.

    Scale shape: the signature projection runs ONCE (codegen'd
    aggregate fold, no explode of the token stream) and is
    lineage-truncated; each config is one band explode (16/8/4 rows
    per doc) into a map-combinable bucket count and a 1-row census —
    three config rows out. Thresholds are Python-computed literals in
    BOTH engines (no cross-engine pow).
    """
    d = load_table(spark, sf_dir, "documents")
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2)
    sig_row = (
        d.repartition(n_part)
        .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select("doc_id", F.expr(_minhash_sig_sql()).alias("sig"))
        .localCheckpoint(eager=False)  # one signature pass feeds 3 configs
    )
    out = None
    for r in _LSH_TUNE_ROWS:
        n_bands = _MINHASH_K // r
        thr = round((1.0 / n_bands) ** (1.0 / r), 6)
        band = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * r + i + 1).cast(
                                    "string"
                                )
                                for i in range(r)
                            ],
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        )
        bz = (
            sig_row.select("doc_id", band.alias("bd"))
            .groupBy("bd.band_idx", "bd.band_hash")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        ok = F.col("n").between(2, _BUCKET_CAP)
        cf = bz.agg(
            F.lit(r).alias("rows_per_band"),
            F.lit(n_bands).alias("n_bands"),
            F.lit(thr).alias("s_threshold"),
            F.sum(ok.cast("int")).cast("long").alias("n_buckets_multi"),
            F.sum((F.col("n") > _BUCKET_CAP).cast("int"))
            .cast("long")
            .alias("n_hot_dropped"),
            F.sum(
                F.when(ok, F.expr("n * (n - 1) DIV 2")).otherwise(0)
            )
            .cast("long")
            .alias("candidate_pairs"),
        )
        out = cf if out is None else out.unionAll(cf)
    return out.orderBy("rows_per_band")


# Prefix-dedup config: documents sharing their first _PREFIX_W words
# verbatim are one scrape family (mirrors/templated rewrites keep the
# head; truncated re-crawls diverge in the tail, which full-text md5
# misses entirely).
_PREFIX_W = 16


@query(
    "q_dedup_prefix",
    # Cluster key is the md5 hex of the verbatim word prefix — a pure
    # string both engines compute identically; every other output is
    # an exact integer (count / min / distinct-count / sum).
    oracle=f"""
WITH p AS (
  SELECT doc_id, source, n_chars,
         md5(array_to_string(
           list_slice(string_split(text, ' '), 1, {_PREFIX_W}), ' '))
           AS prefix_md5
  FROM documents
)
SELECT prefix_md5,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM p GROUP BY prefix_md5 HAVING count(*) > 1
""",
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate clusters: documents whose first 16 words match
    VERBATIM — the scrape-family tier between exact dedup (whole-text
    md5, misses any tail divergence) and MinHash (pays shingling for
    what is here a single hash): mirrored articles with different
    footers, templated rewrites, and truncated re-crawls all keep the
    head. Emits one row per family with the canonical survivor (min
    doc_id), the source spread (n_sources > 1 = cross-feed mirror,
    the licensing/robots signal), and the bytes at stake.

    Scale shape: row-local prefix slice + md5 (the TEXT never
    shuffles — only the 32-char digest does), one digest-keyed
    map-combinable aggregate, HAVING > 1 prunes the (dominant)
    singleton mass before anything is returned. Same plan geometry as
    q_dedup_exact at any corpus size; cluster count bounds the output,
    not the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split("text", " "), 1, _PREFIX_W)
    )
    return (
        d.select(
            F.md5(prefix).alias("prefix_md5"),
            "doc_id",
            "source",
            "n_chars",
        )
        .groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("canonical_doc_id"),
            F.count_distinct("source").cast("long").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "q_dedup_savings",
    # Every tier is an independent digest-keyed exact aggregate; docs/
    # tokens removed are exact integer differences; shares are one
    # division per tier row.
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tok
  FROM documents
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM base
),
tiers AS (
  SELECT 'exact' AS tier, md5(text) AS h, doc_id, n_tok FROM base
  UNION ALL
  SELECT 'exact_norm',
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]+', '', 'g'), ' +', ' ', 'g'))),
         doc_id, n_tok
  FROM base
  UNION ALL
  SELECT 'prefix16',
         md5(array_to_string(list_slice(string_split(text, ' '), 1,
             {_PREFIX_W}), ' ')),
         doc_id, n_tok
  FROM base
),
fam AS (
  SELECT tier, h, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_tok) AS BIGINT) AS tok,
         CAST(min(n_tok) AS BIGINT) AS keep_tok
  FROM tiers GROUP BY 1, 2
),
per AS (
  SELECT tier,
         CAST(sum(n - 1) FILTER (n > 1) AS BIGINT) AS docs_removed,
         CAST(sum(tok - keep_tok) FILTER (n > 1) AS BIGINT)
           AS tokens_removed_ub,
         CAST(count(*) FILTER (n > 1) AS BIGINT) AS n_families
  FROM fam GROUP BY tier
)
SELECT p.tier,
       COALESCE(p.n_families, 0) AS n_families,
       COALESCE(p.docs_removed, 0) AS docs_removed,
       COALESCE(p.tokens_removed_ub, 0) AS tokens_removed_ub,
       round(COALESCE(p.docs_removed, 0) * 1.0 / t.n_docs, 6)
         AS doc_share,
       round(COALESCE(p.tokens_removed_ub, 0) * 1.0 / t.n_tokens, 6)
         AS token_share
FROM per p CROSS JOIN tot t
ORDER BY p.tier
""",
)
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered dedup savings report: for each dedup tier (raw-md5
    exact, normalized exact, 16-word prefix family), the families
    found, documents removable, and token savings (upper bound: keep
    the SHORTEST member, remove the rest) — the one-page answer to
    "what does each dedup tier actually buy us" that individual tier
    operators can't give side-by-side, and the budget line every
    curation plan opens with (if prefix-16 saves 4% of tokens over
    normalized-exact, the MinHash pass that costs 10× more compute has
    a concrete bar to clear).

    Scale shape: one base pass computes all three digests row-locally
    (the TEXT never shuffles — three 32-char digest streams do), one
    digest-keyed map-combinable aggregate per tier (a single
    tier-tagged union aggregate in practice), |tiers| output rows.
    Same plan geometry as q_dedup_exact, ×3.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]+", ""),
            " +",
            " ",
        )
    )
    prefix = F.concat_ws(" ", F.slice(F.split("text", " "), 1, _PREFIX_W))
    base = d.select(
        F.md5("text").alias("h_exact"),
        F.md5(norm).alias("h_norm"),
        F.md5(prefix).alias("h_prefix"),
        n_tok.alias("n_tok"),
    ).localCheckpoint(eager=False)  # feeds the totals and the tier union
    tot = F.broadcast(
        base.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    tiers = None
    for name, col in (
        ("exact", "h_exact"),
        ("exact_norm", "h_norm"),
        ("prefix16", "h_prefix"),
    ):
        t = base.select(
            F.lit(name).alias("tier"), F.col(col).alias("h"), "n_tok"
        )
        tiers = t if tiers is None else tiers.unionAll(t)
    fam = tiers.groupBy("tier", "h").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_tok").cast("long").alias("tok"),
        F.min("n_tok").cast("long").alias("keep_tok"),
    )
    per = fam.groupBy("tier").agg(
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1))
        .cast("long")
        .alias("docs_removed"),
        F.sum(F.when(F.col("n") > 1, F.col("tok") - F.col("keep_tok")))
        .cast("long")
        .alias("tokens_removed_ub"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_families"),
    )
    return (
        per.crossJoin(tot)
        .select(
            "tier",
            F.coalesce("n_families", F.lit(0)).alias("n_families"),
            F.coalesce("docs_removed", F.lit(0)).alias("docs_removed"),
            F.coalesce("tokens_removed_ub", F.lit(0)).alias(
                "tokens_removed_ub"
            ),
            F.round(
                F.coalesce("docs_removed", F.lit(0)) * 1.0 / F.col("n_docs"),
                6,
            ).alias("doc_share"),
            F.round(
                F.coalesce("tokens_removed_ub", F.lit(0))
                * 1.0
                / F.col("n_tokens"),
                6,
            ).alias("token_share"),
        )
        .orderBy("tier")
    )


_THR_CURVE = (0.8, 0.85, 0.9, 0.95)


@query(
    "q_dedup_threshold_curve",
    # Pair Jaccards are the exact inclusion-exclusion rationals (6dp-
    # rounded, the ngram contract); threshold comparisons run on the
    # ROUNDED value so both engines cut identically; all counts exact.
    oracle=f"""
WITH pr AS MATERIALIZED ({_NGRAM_ORACLE_SQL}),
docs AS (
  SELECT jaccard, doc_a AS doc FROM pr
  UNION ALL SELECT jaccard, doc_b FROM pr
),
curve AS (
  SELECT t.thr,
         (SELECT CAST(count(*) AS BIGINT) FROM pr
          WHERE jaccard >= t.thr) AS n_pairs,
         (SELECT CAST(count(DISTINCT doc) AS BIGINT) FROM docs
          WHERE jaccard >= t.thr) AS n_docs_affected
  FROM (SELECT unnest([{', '.join(str(t) for t in _THR_CURVE)}]) AS thr) t
)
SELECT thr, n_pairs, n_docs_affected FROM curve ORDER BY thr
""",
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sensitivity curve: verified pair count and
    affected-document count at each candidate Jaccard cutoff
    {0.8, 0.85, 0.9, 0.95} — the one-table answer to "how much does
    the dedup sweep change if we move the threshold", which every
    threshold choice should be able to cite (a curve that cliffs
    between 0.85 and 0.9 says the corpus has a discrete duplicate
    mode there; a flat curve says the choice is low-stakes).
    Consumes the SAME cached exact-Jaccard pair frame as
    q_dedup_ngram / q_eval_dedup, so the sweep costs one conditional
    aggregate, not a re-shingle.

    Scale shape: the expensive input is the hot-shingle-capped pair
    frame (already built, session-cached); the curve is ONE
    conditional aggregate over it (per-threshold counts via
    count-if, per-threshold affected docs via conditional distinct
    counts on the exploded doc column); |thresholds| rows out.
    """
    pr = q_dedup_ngram(spark, sf_dir)
    docs = pr.select(
        "jaccard", F.explode(F.array("doc_a", "doc_b")).alias("doc")
    )
    pair_aggs = [
        F.sum(F.when(F.col("jaccard") >= t, 1).otherwise(0))
        .cast("long")
        .alias(f"p{i}")
        for i, t in enumerate(_THR_CURVE)
    ]
    doc_aggs = [
        F.count_distinct(F.when(F.col("jaccard") >= t, F.col("doc")))
        .cast("long")
        .alias(f"d{i}")
        for i, t in enumerate(_THR_CURVE)
    ]
    pa = pr.agg(*pair_aggs)
    da = docs.agg(*doc_aggs)
    row = lambda i, t: F.struct(  # noqa: E731
        F.lit(t).alias("thr"),
        F.col(f"p{i}").alias("n_pairs"),
        F.col(f"d{i}").alias("n_docs_affected"),
    )
    return (
        pa.crossJoin(F.broadcast(da))
        .select(
            F.explode(
                F.array(*[row(i, t) for i, t in enumerate(_THR_CURVE)])
            ).alias("s")
        )
        .select("s.thr", "s.n_pairs", "s.n_docs_affected")
        .orderBy("thr")
    )


_XL_BITS = 4          # 16 coarse buckets — blocking, not dedup precision
_XL_BUCKET_CAP = 400  # hot-bucket guardrail (same doctrine as LSH dedup)


def _cross_lang_oracle_sql() -> str:
    """DuckDB twin of q_dedup_cross_lang: identical md5 ±1 hyperplanes
    (similarity._plane_sign family, planes 0..3), identical sequential
    sign folds, identical bucket cap, identical 9dp pair cosines."""

    def dot(i: int) -> str:
        sign = (
            "(CASE WHEN ('0x' || substr(md5('p' || {i} || ',' || (j - 1)), 1, 2))"
            "::UINTEGER >= 128 THEN 1.0 ELSE -1.0 END)"
        ).format(i=i)
        return (
            "list_sum(list_transform(generate_series(1, len(v)), "
            f"j -> v[j] * {sign}))"
        )

    sig = " + ".join(
        f"(CASE WHEN {dot(i)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_XL_BITS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
l AS (SELECT doc_id, lang FROM documents),
x AS (
  SELECT e.vec_id, l.lang, e.v, {sig} AS sig
  FROM e JOIN l ON e.vec_id = l.doc_id
),
bsz AS (
  SELECT sig, count(*) AS n FROM x GROUP BY sig
  HAVING count(*) BETWEEN 2 AND {_XL_BUCKET_CAP}
),
ok AS (SELECT x.vec_id, x.lang, x.v, x.sig FROM x JOIN bsz USING (sig)),
pairs AS (
  SELECT least(a.lang, b.lang) AS lang_a,
         greatest(a.lang, b.lang) AS lang_b,
         CAST(round(list_cosine_similarity(a.v, b.v), 9)
              AS DECIMAL(12,9)) AS c9
  FROM ok a JOIN ok b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE a.lang != b.lang
)
SELECT lang_a, lang_b,
       CAST(count(*) AS BIGINT) AS n_cand_pairs,
       round(CAST(max(c9) AS DOUBLE), 6) AS max_cos,
       round(CAST(sum(c9) AS DOUBLE) / count(*), 6) AS mean_cos
FROM pairs GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b
"""


@query("q_dedup_cross_lang", oracle=_cross_lang_oracle_sql())
def q_dedup_cross_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual near-duplicate screening: for every language PAIR,
    the blocked-candidate cosine profile (pair count, max, mean) over
    embedding-space buckets — the translation-leakage audit a
    multilingual corpus runs before claiming its splits are independent
    (a benchmark translated into the training set shows up as a
    cross-lang max_cos spike long before exact-match decontamination
    can see it). A clean corpus reports max_cos well under the dup bar
    for every pair; any pair spiking toward 1.0 gets routed to the
    thresholded dedup family for removal.

    Scale shape: one scan computes a 4-bit hyperplane signature per
    vector (the q_dedup_embed_lsh plane family — one signature pass
    can serve both); candidates come ONLY from same-bucket pairs with
    the count-first hot-bucket guardrail, never an all-pairs join; the
    rollup is |langs|²-bounded. The bit count is the recall/cost knob
    and grows with log(corpus) at scale — the registry pins 4 bits so
    the DuckDB oracle recomputes identical planes, folds, buckets, and
    9dp cosines.
    """
    from asyncdatapipeline_spark.llm.similarity import (
        _as_double,
        _dot,
        _plane_sign,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    first = e.select(F.size("v").alias("d")).first()
    if first is None:
        return spark.createDataFrame(
            [],
            "lang_a string, lang_b string, n_cand_pairs bigint,"
            " max_cos double, mean_cos double",
        )
    dim = first["d"]
    sig = F.lit(0)
    for i in range(_XL_BITS):
        plit = F.array(
            *[F.lit(_plane_sign(i, j)) for j in range(dim)]
        )
        sig = sig + F.when(_dot(F.col("v"), plit) >= 0, 1 << i).otherwise(0)
    langs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    x = (
        e.join(langs, "vec_id")
        .select(
            "vec_id",
            "lang",
            "v",
            F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"),
            sig.alias("sig"),
        )
        .localCheckpoint(eager=False)  # feeds bucket sizes + both join sides
    )
    bsz = x.groupBy("sig").agg(F.count(F.lit(1)).alias("n")).filter(
        (F.col("n") >= 2) & (F.col("n") <= _XL_BUCKET_CAP)
    )
    ok = x.join(F.broadcast(bsz.select("sig")), "sig")
    a, b = ok.alias("a"), ok.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("a.lang") != F.col("b.lang")),
        )
        .select(
            F.least("a.lang", "b.lang").alias("lang_a"),
            F.greatest("a.lang", "b.lang").alias("lang_b"),
            F.round(cos, 9).cast("decimal(12,9)").alias("c9"),
        )
    )
    return (
        pairs.groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cand_pairs"),
            F.round(F.max("c9").cast("double"), 6).alias("max_cos"),
            F.round(
                F.sum("c9").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_cos"),
        )
        .orderBy("lang_a", "lang_b")
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup (the web-corpus pre-fetch dedup stage)
# ---------------------------------------------------------------------------

_URL_TOP_K = 15


@query(
    "q_dedup_url", scan_repair=False,
    # The raw URLs are a deterministic fixture (case/slash/tracking-
    # param variants synthesized from doc fields); the OPERATOR under
    # test is the canonicalizer, which must recover the duplicate
    # groups from the STRINGS alone — both engines run the identical
    # parse -> lower(host) -> strip trailing slash -> drop utm_* ->
    # sort params pipeline, all exact string ops.
    oracle=f"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://' ||
         CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END ||
         '.Example.com/docs/' || CAST(doc_id // 7 AS VARCHAR) ||
         CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
         CASE WHEN doc_id % 2 = 1
              THEN '?utm_source=news&id=' || CAST(doc_id // 7 AS VARCHAR)
              ELSE '?id=' || CAST(doc_id // 7 AS VARCHAR) END AS url
  FROM documents
),
c AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^[A-Za-z]+://([^/?]+)', 1)) AS host,
         regexp_replace(
           regexp_extract(url, '^[A-Za-z]+://[^/?]+([^?]*)', 1),
           '/$', '') AS path,
         array_to_string(
           list_sort(list_filter(
             string_split(regexp_extract(url, '[?](.*)$', 1), '&'),
             x -> NOT starts_with(x, 'utm_') AND x != '')),
           '&') AS params
  FROM raw
),
k AS (
  SELECT doc_id, url,
         'https://' || host || path ||
         CASE WHEN params != '' THEN '?' || params ELSE '' END
           AS canonical_url
  FROM c
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM k GROUP BY 1
ORDER BY n_docs DESC, canonical_url
LIMIT {_URL_TOP_K}
""",
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the stage every web-corpus
    pipeline runs BEFORE fetching or hashing content: scheme/host
    case-folding, trailing-slash stripping, tracking-parameter
    (utm_*) removal and query-parameter sorting collapse the cosmetic
    variants crawlers accumulate (the same page arrives as HTTPS://
    Host/..., .../path/ and ...?utm_source=...) into one canonical
    key, with min-doc_id as the deterministic keeper. Content-level
    dedup (q_dedup_exact / minhash) only sees what got fetched;
    URL-level dedup is the one that saves the FETCH. The raw URLs are
    a deterministic fixture synthesized from doc fields — the
    operator must recover the groups from the strings alone.

    Scale shape: the whole canonicalizer is row-local whole-stage
    codegen (regexp extracts, lower, array filter/sort/join — no UDF,
    no shuffle until the final grouped count), then one map-combinable
    reduce on the canonical key and a TakeOrderedAndProject top-{k}.
    """
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(F.col("doc_id") % 2 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".Example.com/docs/"),
        F.expr("cast(doc_id div 7 as string)"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(
                F.lit("?utm_source=news&id="),
                F.expr("cast(doc_id div 7 as string)"),
            ),
        ).otherwise(
            F.concat(F.lit("?id="), F.expr("cast(doc_id div 7 as string)"))
        ),
    )
    raw = d.select("doc_id", url.alias("url"))
    host = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[A-Za-z]+://[^/?]+([^?]*)", 1),
        r"/$",
        "",
    )
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract("url", r"[?](.*)$", 1), "&"),
                lambda x: (~x.startswith("utm_")) & (x != ""),
            )
        ),
        "&",
    )
    k = raw.select(
        "doc_id",
        "url",
        F.concat(
            F.lit("https://"),
            host,
            path,
            F.when(params != "", F.concat(F.lit("?"), params)).otherwise(
                F.lit("")
            ),
        ).alias("canonical_url"),
    )
    return (
        k.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("url").cast("long").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .orderBy(F.col("n_docs").desc(), "canonical_url")
        .limit(_URL_TOP_K)
    )


q_dedup_url.__doc__ = q_dedup_url.__doc__.format(k=_URL_TOP_K)
