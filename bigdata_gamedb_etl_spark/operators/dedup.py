"""Deduplication operators over the `documents` table — the
training-data-pipeline surface (BASELINE.json north_star).

Four similarity tiers, in increasing scale-friendliness:
  1. exact dedup by full text (hash groupBy)
  2. exact dedup by md5 fingerprint (groupBy on a 16-byte key instead of
     the full text — at 100 TB you shuffle 16-byte hashes, not documents)
  3. exact n-gram Jaccard pairs via a shingle inverted-index join
     (oracle-checkable; quadratic on hot shingles — correctness tier)
  4. MinHash+LSH near-dup pairs (the 100 TB path: candidate generation
     is linear in documents × bands, verification only touches
     candidates).  Rows-only checked: LSH is probabilistic recall by
     design.
Plus the pipeline the tiers feed: connected-components cluster
assignment, quality-argmax keeper selection per cluster, benchmark
decontamination, incremental-batch dedup, boilerplate detection,
repeated-shingle contamination, and the per-source contamination
scorecard.

All shingling is built-in higher-order functions (transform/sequence) —
no Python UDFs anywhere in the hot path.
"""

from __future__ import annotations

import atexit
import hashlib
import shutil
import tempfile

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import table

JACCARD_THRESHOLD = 0.5
# Shingles appearing in more than DF_CAP documents are dropped from the
# inverted index before the self-join: the join cost is Σ df(shingle)²,
# so one viral shingle at 100 TB makes a quadratic hot key, while a
# shingle shared by >1000 docs carries ~zero near-dup signal (a true
# near-dup pair at J≥0.5 shares many LOW-df shingles too — dropping a
# ubiquitous one only lowers `common`, and the cap is far above any
# doc-frequency the sf0.01/sf0.1 corpora produce, so the exact oracle
# still matches; tests assert no qualifying pair is lost).
# dedup_shingle_docfreq_hist reports the distribution that justifies
# the value per-corpus.
SHINGLE_DF_CAP = 1000
MINHASH_PERMS = 32
LSH_BANDS = 8  # 4 rows/band → P(candidate | J=0.5) ≈ 1-(1-0.5^4)^8 ≈ 0.40,
#                P(candidate | J=0.8) ≈ 0.97 — tuned for high-sim recall.

# word 3-gram shingles, distinct; empty array for docs with <3 tokens.
# Formulated as nested zip_with over three slice()s of the token array
# rather than transform(sequence, i -> ws[i-1]...): every split(text)
# here sits OUTSIDE the lambdas, so it evaluates a constant number of
# times per ROW.  The indexed-transform formulation puts ws[i] inside
# the lambda, and Catalyst's projection collapse substitutes
# split(text) into each element access — O(tokens²) per document
# unless a shuffle barrier materializes the array first; this shape
# needs no barrier and scans 6× faster at sf0.1 (3.2 s → 0.55 s).
_SHINGLES = """
CASE WHEN size(split(text, ' ')) >= 3 THEN
  array_distinct(
    zip_with(
      zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 2),
               slice(split(text, ' '), 2, size(split(text, ' ')) - 2),
               (a, b) -> concat(a, ' ', b)),
      slice(split(text, ' '), 3, size(split(text, ' ')) - 2),
      (ab, c) -> concat(ab, ' ', c)))
ELSE array() END
"""

_SHINGLES_DUCK = """
list_distinct(list_transform(range(1, greatest(len(ws) - 1, 1)),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
"""


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_SHINGLES).alias("shs"))
        .where(F.size("shs") > 0)
    )



# the engine-agreed floor rounding recipe — re-exported here for the
# existing call sites; defined in the leaf module _rounding to avoid
# import-order coupling (see _rounding.py docstring)
from ._rounding import _fr4  # noqa: E402,F401


# --------------------------------------------------------------------------
def dedup_exact_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one keeper (min doc_id) per distinct text."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
        .select("keeper_id", "dup_count")
        .orderBy("keeper_id")
    )


DEDUP_EXACT_ORACLE = """
SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
FROM documents
GROUP BY text
ORDER BY keeper_id
"""


def dedup_exact_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on md5(text): at scale the shuffle carries a
    16-byte digest instead of the document body."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
        .orderBy("keeper_id")
    )


DEDUP_MD5_ORACLE = """
SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
FROM documents
GROUP BY md5(text)
ORDER BY keeper_id
"""


# --------------------------------------------------------------------------
def _jaccard_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted-index build alone — (s, docs: array<struct>) per
    surviving shingle — the input of _posting_pair_counts' pair emit,
    whose work is the posting pair mass Σ C(df, 2).  That mass grew
    exactly 10× (1,265,779 → 12,657,790) from sf0.1 to its 10× replica
    slice."""
    sh = _shingled(spark, sf_dir)
    ex = sh.select(
        "doc_id",
        F.size("shs").alias("n"),
        F.explode(F.transform("shs", lambda s: F.xxhash64(s))).alias("s"),
    )
    ex = ex.repartition(F.col("s"))
    df_ok = (
        ex.groupBy("s")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= SHINGLE_DF_CAP))
        .select("s")
    )
    return (
        ex.join(df_ok, "s")
        .groupBy("s")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("docs"))
    )


def _posting_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared pair generator for the Jaccard and containment tiers:
    (d1, d2, common, n1, n2) per unordered doc pair sharing ≥1
    df-capped shingle, d1 < d2.

    64-bit shingle hashes, computed INSIDE the array before explode:
    exploding 8-byte longs is measurably cheaper than exploding the
    ~30-byte strings and hashing after (string explode allocates a
    row copy per shingle).  The shuffle then moves longs; collision
    odds at 2^64 are ~1e-7 for millions of shingles — below oracle
    noise.

    The df-filter runs BEFORE collecting the posting list (inside
    _jaccard_postings): a size filter AFTER collect_list would still
    gather a viral shingle's entire posting list into one
    aggregation-buffer row (multi-GB on a boilerplate shingle at
    100 TB — executor OOM before the filter runs).  The explicit
    repartition(s) there gives the df-count branch and the join probe
    branch one IDENTICAL exchange subtree to share at runtime: with a
    bare groupBy, partial aggregation sits below that branch's
    exchange, the subtrees differ, and the corpus explode executes
    twice (measured +30% at sf0.1; with the repartition the wall
    clock matches the old unsafe one-shuffle form within noise).  Net
    cost: the tiny df_ok side, and the collect buffer is bounded by
    SHINGLE_DF_CAP structs."""
    postings = _jaccard_postings(spark, sf_dir)
    # C(df,2) index pairs per posting list, ordered per-pair with a
    # CASE instead of sorting the list: `docs` is an aggregate OUTPUT
    # attribute, so referencing it repeatedly is free, whereas a
    # sort_array expression would be re-evaluated per reference by
    # projection collapse (needing an extra shuffle barrier).
    pairs = postings.select(
        F.explode(
            F.expr(
                """
                flatten(transform(
                  sequence(1, size(docs) - 1),
                  i -> transform(
                    slice(docs, i + 1, size(docs) - i),
                    x -> CASE WHEN docs[i-1].doc_id < x.doc_id
                         THEN struct(docs[i-1].doc_id AS d1, docs[i-1].n AS n1,
                                     x.doc_id AS d2, x.n AS n2)
                         ELSE struct(x.doc_id AS d1, x.n AS n1,
                                     docs[i-1].doc_id AS d2, docs[i-1].n AS n2)
                         END
                  )
                ))
                """
            )
        ).alias("p")
    ).select("p.d1", "p.n1", "p.d2", "p.n2")
    return pairs.groupBy("d1", "d2").agg(
        F.count("*").alias("common"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    )


def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: word-3-gram Jaccard ≥ 0.5 via a shingle
    inverted-index self-join (explode → join on shingle → count common).

    Scale plan — posting-list combination explode, not a self-join:
      explode (doc, shingle-hash) → groupBy hash collecting the posting
      list → keep lists with 2 ≤ df ≤ SHINGLE_DF_CAP → emit the C(df,2)
      ordered doc pairs per list → count pairs per (d1, d2).
    One shuffle of the exploded index (the self-join shape shuffles it
    twice), singleton shingles — the vast majority of any real corpus —
    die at the groupBy filter instead of being joined, and the df cap
    bounds the worst posting list to C(cap,2) pairs (one viral shingle
    can't go quadratic; a shingle shared by >cap docs carries no
    near-dup signal).  `n` is the FULL shingle-set size, so surviving
    pairs keep exact Jaccard.  The LSH variant below is still the
    100 TB path.
    """
    agg = _posting_pair_counts(spark, sf_dir)
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        agg.where(jac >= JACCARD_THRESHOLD)
        .select("d1", "d2", _fr4(jac).alias("jaccard"))
        .orderBy("d1", "d2")
    )


DEDUP_JACCARD_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shs FROM w
),
ex AS (
  SELECT doc_id, len(shs) AS n, UNNEST(shs) AS s FROM sh WHERE len(shs) > 0
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         COUNT(*) AS common,
         ANY_VALUE(a.n) AS n1, ANY_VALUE(b.n) AS n2
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       floor(common * 1.0 / (n1 + n2 - common) * 10000.0 + 0.5) / 10000.0
         AS jaccard
FROM pairs
WHERE common * 1.0 / (n1 + n2 - common) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
"""


# --------------------------------------------------------------------------
def dedup_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.5 pairs via PREFIX FILTERING (AllPairs,
    Bayardo et al. 2007; PPJoin, Xiao et al. 2008) — the lossless
    alternative to both the df cap and LSH: identical output to
    dedup_ngram_jaccard_pairs by THEOREM, not by tuning.

    Prefix-filter principle: order every doc's shingles by one global
    canonical order (df ascending — rarest first — then hash); if
    J(x, y) ≥ t, the two docs MUST share a token within the first
    p(x) = |x| − ceil(t·|x|) + 1 tokens of each (pigeonhole: missing
    all of x's prefix leaves at most ceil(t·|x|) − 1 < t·|x| ≤ overlap
    candidates).  So the self-join runs over PREFIXES only — and
    because rare tokens sort first, the joined posting lists are the
    SHORT ones; the viral boilerplate shingle that forces the df cap
    in the inverted-index variant lands outside every prefix instead
    of being dropped (no recall trade at all).

    Stages: explode distinct shingle hashes → global df → per-doc
    rank window (doc-bounded state) → prefix rows → self-join on
    token with the t-length filter (2·min(n) ≥ max(n)) → distinct
    candidate pairs → exact verify by array_intersect of the two
    full shingle-hash arrays (JVM built-in, O(n1+n2) per candidate,
    cost ∝ candidates, not corpus²).

    The oracle deliberately stays the SPEC formulation (the same
    all-shared-token exact pair join as dedup_ngram_jaccard_pairs),
    so driver parity PROVES the prefix rewrite loses nothing — the
    same proof-by-oracle pattern as the nested-band LSH ladder.
    tests/test_llm_pipeline.py additionally pins prefix == inverted-
    index output at both test SFs."""
    # Shared-subtree note (r11): the initial plan prints the prefix
    # subtree once per self-join side (6 parquet scans), but the FINAL
    # adaptive plan carries 2 ReusedExchange nodes — Spark computes
    # the duplicated shuffles once and reuses them at runtime.  An
    # explicit localCheckpoint of sh+prefix (the recall-by-jaccard
    # pattern) was measured and REJECTED: 4.2 s vs 3.8 s at sf0.1
    # even before counting the eager materialization, and it would
    # persist a corpus-sized array table to executor disk at 100 TB
    # where ReusedExchange already dedups the expensive exchanges.
    sh = _shingled(spark, sf_dir).select(
        "doc_id",
        F.transform("shs", lambda s: F.xxhash64(s)).alias("hs"),
    )
    return _prefix_jaccard_from(sh)


def _prefix_jaccard_from(sh: DataFrame) -> DataFrame:
    """The prefix-filter machinery over any (doc_id, hs: array<long>)
    table of DISTINCT per-doc set elements — factored out so the
    completeness theorem can be Hypothesis-tested on arbitrary
    synthetic sets (tests/test_properties.py), not just the two fixed
    corpora."""
    # r12 (ADVICE): the prefix length (n DIV 2 + 1) and the t-length
    # filter (2·min ≥ max) below are DERIVED for t = 1/2 — they are
    # not parametric in JACCARD_THRESHOLD, which only the verify stage
    # reads.  Changing the constant without re-deriving both formulas
    # would silently lose pairs BEFORE verification (prefix
    # completeness breaks); fail loudly instead.  r13 (ADVICE): a
    # ValueError, not an `assert` — asserts vanish under `python -O`
    # and this guard must survive optimized runs.
    if JACCARD_THRESHOLD != 0.5:
        raise ValueError(
            "prefix length and t-length filter are hardcoded for t=1/2; "
            "re-derive p(x) = n - ceil(t*n) + 1 and the length filter "
            "before changing JACCARD_THRESHOLD"
        )
    ex = sh.select(
        "doc_id", F.size("hs").alias("n"), F.explode("hs").alias("s")
    )
    dfreq = ex.groupBy("s").agg(F.count("*").alias("df"))
    ranked = ex.join(dfreq, "s").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "s")
        ),
    )
    # integer prefix length for t = 1/2: n − ceil(n/2) + 1 = n DIV 2 + 1
    prefix = ranked.where(F.expr("r <= n DIV 2 + 1")).select(
        "doc_id", "n", "s"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # t-length filter: J ≥ 1/2 needs 2·min(n1,n2) ≥ max(n1,n2)
            & (F.least("a.n", "b.n") * 2 >= F.greatest("a.n", "b.n")),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
    )
    h1 = sh.select(
        F.col("doc_id").alias("d1"),
        F.col("hs").alias("hs1"),
        F.size("hs").alias("n1"),
    )
    h2 = sh.select(
        F.col("doc_id").alias("d2"),
        F.col("hs").alias("hs2"),
        F.size("hs").alias("n2"),
    )
    verified = (
        cand.join(h1, "d1")
        .join(h2, "d2")
        .withColumn(
            "common", F.size(F.array_intersect("hs1", "hs2"))
        )
    )
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        verified.where(jac >= JACCARD_THRESHOLD)
        .select("d1", "d2", _fr4(jac).alias("jaccard"))
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# Jaccard-threshold sensitivity sweep (r9) — the third tuning table
# (after the LSH band ladder and the IVF nprobe ladder): how many pairs
# and how much of the corpus each candidate threshold would mark as
# near-duplicate.  The production question it answers: "if we tighten
# 0.5 → 0.7, how much dup mass do we stop collapsing?"  One
# pair-generation pass; per-threshold counts are conditional aggregates
# over the exploded pair endpoints (never one filtered branch per
# threshold — that re-executes the posting-list explode per branch).
# Spans the corpus's bimodal pair mass: coincidental-overlap noise
# (99th pct j ≈ 0.025 here) up through the true-dup mode (j ≥ 0.8) —
# the informative part of the curve is exactly where the two separate.
SWEEP_THRESHOLDS = (0.01, 0.02, 0.05, 0.1, 0.5, 0.8)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per candidate Jaccard threshold: surviving pair count, distinct
    documents in ≥1 surviving pair, and their share of the corpus.
    Pair grain and df-cap semantics match dedup_ngram_jaccard_pairs
    (the oracle, like that op's, omits the cap — inactive at test SF,
    pinned by test_shingle_df_cap_is_inactive_at_test_sf)."""
    agg = _posting_pair_counts(spark, sf_dir)
    jac = (
        F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    ).alias("j")
    ends = agg.select(
        jac, F.explode(F.array("d1", "d2")).alias("doc")
    )
    aggs = []
    for i, t in enumerate(SWEEP_THRESHOLDS):
        hit = F.col("j") >= F.lit(t)
        aggs.append(
            F.coalesce(
                F.sum(hit.cast("long")), F.lit(0).cast("long")
            ).alias(f"pairs2_{i}")
        )
        aggs.append(
            F.countDistinct(F.when(hit, F.col("doc"))).alias(f"docs_{i}")
        )
    one = ends.agg(*aggs)
    total = table(spark, sf_dir, "documents").agg(
        F.count("*").alias("total_docs")
    )
    stack = ", ".join(
        f"CAST({t} AS DOUBLE), pairs2_{i} DIV 2, docs_{i}"
        for i, t in enumerate(SWEEP_THRESHOLDS)
    )
    return (
        one.crossJoin(F.broadcast(total))
        .select(
            "total_docs",
            F.expr(
                f"stack({len(SWEEP_THRESHOLDS)}, {stack}) AS "
                "(threshold, n_pairs, n_dup_docs)"
            ),
        )
        .select(
            "threshold",
            "n_pairs",
            "n_dup_docs",
            F.when(
                F.col("total_docs") > 0,
                _fr4(F.col("n_dup_docs") * 100.0 / F.col("total_docs")),
            ).alias("dup_doc_pct"),
        )
        .orderBy("threshold")
    )


def _threshold_sweep_oracle() -> str:
    cols = []
    rows = []
    for i, t in enumerate(SWEEP_THRESHOLDS):
        cols.append(
            f"COALESCE(SUM(CASE WHEN j >= {t} THEN 1 ELSE 0 END), 0) // 2"
            f" AS pairs_{i},\n"
            f"         COUNT(DISTINCT CASE WHEN j >= {t} THEN doc END)"
            f" AS docs_{i}"
        )
        rows.append(
            f"SELECT CAST({t} AS DOUBLE) AS threshold,"
            f" CAST(pairs_{i} AS BIGINT) AS n_pairs,"
            f" CAST(docs_{i} AS BIGINT) AS n_dup_docs,"
            " total_docs FROM one, tot"
        )
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shs FROM w
),
ex AS (
  SELECT doc_id, len(shs) AS n, UNNEST(shs) AS s FROM sh WHERE len(shs) > 0
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         COUNT(*) AS common,
         ANY_VALUE(a.n) AS n1, ANY_VALUE(b.n) AS n2
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
ends AS (
  SELECT common * 1.0 / (n1 + n2 - common) AS j, d1 AS doc FROM pairs
  UNION ALL
  SELECT common * 1.0 / (n1 + n2 - common) AS j, d2 AS doc FROM pairs
),
one AS (
  SELECT {",".join(cols)}
  FROM ends
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_docs FROM documents),
rows_out AS (
  {" UNION ALL ".join(rows)}
)
SELECT threshold, n_pairs, n_dup_docs,
       CASE WHEN total_docs > 0
            THEN floor(n_dup_docs * 100.0 / total_docs
                       * 10000.0 + 0.5) / 10000.0
       END AS dup_doc_pct
FROM rows_out
ORDER BY threshold
"""


DEDUP_THRESHOLD_SWEEP_ORACLE = _threshold_sweep_oracle()


# --------------------------------------------------------------------------
# Asymmetric containment: C(a in b) = |S(a) ∩ S(b)| / |S(a)| — the
# quote/subset signal Jaccard structurally misses (a 100-token doc
# fully embedded in a 10k-token doc has Jaccard ≈ 0.01 but
# containment 1.0).  Same posting-list combination shape as the
# Jaccard op — one shuffle, df-capped — but the oracle applies the
# SAME df cap, so the cap is part of the declared semantics rather
# than a data-dependent approximation.
CONTAINMENT_THRESHOLD = 0.8


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shingle containment >= CONTAINMENT_THRESHOLD:
    for each undirected pair, the score is max of the two directed
    containments (i.e. intersection over the SMALLER set) and
    `contained_id` names the doc whose shingle set is the contained
    side (ties -> the lower doc_id, deterministically).

    Intersections count 64-bit shingle hashes (the oracle counts raw
    strings): a collision merges two shingles' postings — expected
    collisions ~n²/2⁶⁵, negligible below ~2³² distinct shingles (the
    same documented bound as dedup_repeated_ngram_share)."""
    agg = _posting_pair_counts(spark, sf_dir)
    cont = F.col("common") / F.least("n1", "n2")
    return (
        agg.where(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "d1",
            "d2",
            F.when(F.col("n1") <= F.col("n2"), F.col("d1"))
            .otherwise(F.col("d2"))
            .alias("contained_id"),
            _fr4(cont).alias("containment"),
        )
        .orderBy("d1", "d2")
    )


DEDUP_CONTAINMENT_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shs FROM w
),
ex AS (
  SELECT doc_id, len(shs) AS n, UNNEST(shs) AS s FROM sh WHERE len(shs) > 0
),
dfs AS (
  SELECT s FROM ex GROUP BY s
  HAVING COUNT(*) BETWEEN 2 AND {SHINGLE_DF_CAP}
),
exf AS (SELECT ex.* FROM ex JOIN dfs USING (s)),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         COUNT(*) AS common,
         ANY_VALUE(a.n) AS n1, ANY_VALUE(b.n) AS n2
  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       CASE WHEN n1 <= n2 THEN d1 ELSE d2 END AS contained_id,
       floor(common * 1.0 / least(n1, n2) * 10000.0 + 0.5) / 10000.0
         AS containment
FROM pairs
WHERE common * 1.0 / least(n1, n2) >= {CONTAINMENT_THRESHOLD}
ORDER BY d1, d2
"""


# --------------------------------------------------------------------------
#: Mersenne prime 2^61−1 — the modulus of the minhash permutation
#: family below.
MINHASH_P = (1 << 61) - 1
_T31, _T30 = 1 << 31, 1 << 30


def _perm_const(k: int, tag: str) -> int:
    """Deterministic 60-bit permutation constant (no RNG at runtime —
    resumable, engine-independent): top 15 hex chars of md5(tag‖k)."""
    return int(hashlib.md5(f"{tag}{k}".encode()).hexdigest()[:15], 16)


def _perm_formula(k: int, div: str) -> str:
    """Portable SQL for permutation k of the pairwise-independent
    family mh_k(h) = (a_k·h + b_k) mod (2^61−1) over a 60-bit hash h
    presented as columns hh1 = h div 2^31, hh0 = h mod 2^31.

    a_k·h needs 121-bit intermediates, so the multiply is split
    base-2^31 and reduced with the Mersenne identity 2^61 ≡ 1 (mod p):
      a·h = a1·h1·2^62 + (a1·h0 + a0·h1)·2^31 + a0·h0
          ≡ 2·a1·h1   + m1 + m0·2^31          + a0·h0   (mod p)
      where m = (a1·h0 + a0·h1) mod p = m1·2^30 + m0.
    Every intermediate is < 2^62, so the expression is exact in signed
    BIGINT on both engines (Spark runs ANSI — overflow would THROW;
    the bounds are load-bearing).  `div` is the integer-division
    spelling: 'DIV' on Spark, '//' on DuckDB; everything else is
    shared text, which IS the cross-engine parity argument.

    Design history (r10): the first draft — a fresh md5 per
    permutation — was cleanly reproducible but measured 10.0 s vs
    2.0 s at sf0.1 (32 string hashes + hex parses per shingle); the
    second — Kirsch–Mitzenmacher h1 + k·h2 — was fast but its
    correlated permutations inflated the 8-band candidate set 53×
    (13 663 vs 256 pairs at sf0.1).  This family measures the same
    candidate count as the original xxhash64 family (256) at the same
    signature cost (~1.4 s)."""
    a = _perm_const(k, "a") % (MINHASH_P - 1) + 1
    b = _perm_const(k, "b") % MINHASH_P
    a1, a0 = a // _T31, a % _T31
    m = f"(({a1}*hh0 + {a0}*hh1) % {MINHASH_P})"
    x = f"(2*{a1}*hh1 + {m} {div} {_T30} + ({m} % {_T30}) * {_T31})"
    return (
        f"((({x} % {MINHASH_P} + ({a0}*hh0) % {MINHASH_P})"
        f" % {MINHASH_P} + {b}) % {MINHASH_P})"
    )


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh31): 32-permutation MinHash signatures with an
    md5-derived pairwise-independent hash family, shared by the LSH
    pair query and the band ladder — and reproducible in the DuckDB
    oracle (r9 verdict item 4: the xxhash64 family kept the whole
    minhash surface rows-only).

    ONE md5 per shingle; its top 60 bits (15 hex chars — ANSI-cast-
    safe) are the base hash h, and the 32 permutations are the
    constant-multiplier mulmod formulas of _perm_formula.  The
    explode→project→groupBy shape parses the hex exactly once per
    shingle; the 32 min-aggregates reference the hh1/hh0 ATTRIBUTES,
    so Catalyst's projection collapse cannot clone the parse into each
    aggregate (the array-of-lambdas formulation did, measured 4×
    slower on the old xxhash64 family).  The groupBy shuffle is
    map-side-combined to one row per (doc, partition)."""
    sh = _shingled(spark, sf_dir)
    ex = (
        sh.select(
            "doc_id",
            F.explode(F.transform("shs", lambda s: F.md5(s))).alias("hx"),
        )
        .select(
            "doc_id",
            F.conv(F.substring("hx", 1, 15), 16, 10).cast("long").alias("h"),
        )
        .select(
            "doc_id",
            F.expr(f"h DIV {_T31}").alias("hh1"),
            (F.col("h") % _T31).alias("hh0"),
        )
    )
    return ex.groupBy("doc_id").agg(
        *[
            F.min(F.expr(_perm_formula(k, "DIV"))).alias(f"mh{k}")
            for k in range(MINHASH_PERMS)
        ]
    )


def _minhash_sig_duck() -> str:
    """DuckDB CTE body computing the identical signature table
    (doc_id, mh0..mh31) over `documents` — the oracle twin of
    _minhash_signatures (same _perm_formula text, '//' division)."""
    mh_cols = ",\n         ".join(
        f"MIN({_perm_formula(k, '//')}) AS mh{k}"
        for k in range(MINHASH_PERMS)
    )
    return f"""
w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shs FROM w
),
exsh AS (
  SELECT doc_id, len(shs) AS n, UNNEST(shs) AS s FROM sh WHERE len(shs) > 0
),
hb AS (
  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
  FROM exsh
),
hs AS (
  SELECT doc_id, h // {_T31} AS hh1, h % {_T31} AS hh0 FROM hb
),
sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM hs GROUP BY doc_id
)"""


def _band_key(nb: int, b: int):
    """Lossless Spark band key: a STRUCT of band b's raw minhash longs.
    Struct equality == element-wise equality, so the candidate set is
    identical to the oracle's string-concat key (both are lossless
    renderings of the same value tuple) while the shuffle carries
    8·rows_per_band bytes instead of an ~80-char string (struct and
    string keys measured within noise of the old lossy 32-bit F.hash
    key at sf0.1 — 2.3 vs 2.7 s full-query — so losslessness is
    free)."""
    rpb = MINHASH_PERMS // nb
    return F.struct(
        *[F.col(f"mh{b * rpb + r}").alias(f"k{r}") for r in range(rpb)]
    )


def _band_key_duck(nb: int, b: int) -> str:
    rpb = MINHASH_PERMS // nb
    return " || ',' || ".join(
        f"CAST(mh{b * rpb + r} AS VARCHAR)" for r in range(rpb)
    )


def _band_collides(nb: int):
    """Boolean 'this pair collides at the nb-band setting' over a
    pair row carrying both signatures as x0..x31 / y0..y31: OR over
    bands of AND over rows-per-band equality.  Combined with the
    nesting of the band boundaries (cand(nb) ⊆ cand(2·nb)), this lets
    the tuning tables join ONCE at the loosest setting and derive the
    coarser settings as codegen flags instead of extra self-joins."""
    band_hit = None
    rpb = MINHASH_PERMS // nb
    for bb in range(nb):
        hit = None
        for r in range(rpb):
            k = bb * rpb + r
            eq = F.col(f"x{k}") == F.col(f"y{k}")
            hit = eq if hit is None else (hit & eq)
        band_hit = hit if band_hit is None else (band_hit | hit)
    return band_hit


def _sig_pair_flags(sig: DataFrame, cand: DataFrame) -> DataFrame:
    """(d1, d2, c{nb}...) — the candidate pairs joined back to both
    signature rows with one collision flag per ladder setting."""
    s1 = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"mh{k}").alias(f"x{k}") for k in range(MINHASH_PERMS)],
    )
    s2 = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"mh{k}").alias(f"y{k}") for k in range(MINHASH_PERMS)],
    )
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            *[_band_collides(nb).alias(f"c{nb}") for nb in LSH_LADDER_BANDS],
        )
    )


def _loosest_band_candidates(sig: DataFrame) -> DataFrame:
    """Distinct (d1 < d2) candidate pairs at the LOOSEST ladder setting
    (max bands = fewest rows per band) — a superset of every other
    setting's candidates by band nesting."""
    nb_max = max(LSH_LADDER_BANDS)
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[_band_key(nb_max, b) for b in range(nb_max)])
        ).alias("band", "band_hash"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs, then exact-Jaccard verification of
    candidates only.  Oracle-backed since r10: the md5 permutation
    family and the lossless band keys make the candidate set — and
    therefore the verified output — deterministic and reproducible in
    ANSI SQL (previously rows-only under the Spark-native xxhash64
    family).

    Pipeline (all built-ins, no UDF):
      shingles → 32 md5-family minhashes (_minhash_signatures)
      → 8 bands of 4 → explode bands → self-join on (band, band-key)
      → distinct candidate pairs → join shingle sets back → exact
      Jaccard filter.
    At 100 TB: candidate generation shuffles (band, key) pairs —
    linear in corpus size; only candidates pay the verification join.
    """
    sh = _shingled(spark, sf_dir)
    sig = _minhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[_band_key(LSH_BANDS, b) for b in range(LSH_BANDS)])
        ).alias("band", "band_hash"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("shs").alias("shs1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("shs").alias("shs2"))
    verified = (
        candidates.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("common", F.size(F.array_intersect("shs1", "shs2")))
        .withColumn(
            "jaccard",
            F.col("common") / (F.size("shs1") + F.size("shs2") - F.col("common")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # _fr4, not ROUND: the exact tier publishes _fr4(jaccard) and the
    # refinement-invariant tests compare the two tiers' values — ROUND
    # would emit a different 4dp value on exact dyadic halves
    return verified.select(
        "d1", "d2", _fr4(F.col("jaccard")).alias("jaccard")
    ).orderBy("d1", "d2")


def _minhash_lsh_oracle() -> str:
    band_rows = ",\n    ".join(
        f"({b}, {_band_key_duck(LSH_BANDS, b)})" for b in range(LSH_BANDS)
    )
    return f"""
WITH {_minhash_sig_duck()},
bands AS (
  SELECT doc_id, t.band, t.bkey FROM sig,
    LATERAL (VALUES
    {band_rows}
    ) AS t(band, bkey)
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         COUNT(*) AS common,
         ANY_VALUE(a.n) AS n1, ANY_VALUE(b.n) AS n2
  FROM exsh a JOIN exsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.d1, c.d2,
       floor(common * 1.0 / (n1 + n2 - common) * 10000.0 + 0.5) / 10000.0
         AS jaccard
FROM cand c JOIN pairs p ON c.d1 = p.d1 AND c.d2 = p.d2
WHERE common * 1.0 / (n1 + n2 - common) >= {JACCARD_THRESHOLD}
ORDER BY c.d1, c.d2
"""


DEDUP_MINHASH_LSH_ORACLE = _minhash_lsh_oracle()


# --------------------------------------------------------------------------
# LSH band-ladder tuning table (r9) — the dedup twin of
# sim_ivf_recall_curve: (bands, rows) is THE recall/cost knob of a
# MinHash index, and this table measures it against the exact-Jaccard
# ground truth instead of trusting the 1-(1-j^r)^b formula.  Band
# boundaries NEST (32 permutations split into 2/4/8/16 bands): a
# collision on a coarse band means all its minhashes agree, so both
# halves agree — the candidate set at 2k bands is a superset of the
# set at k bands BY CONSTRUCTION, and recall is monotone in bands.
LSH_LADDER_BANDS = (2, 4, 8, 16)


def dedup_lsh_band_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (bands, rows-per-band) setting over ONE shared 32-permutation
    signature table: LSH candidate count, exact-verified pair count,
    hits against the exact-Jaccard pair set, and recall — the table a
    deployment reads to pick its banding before a 100 TB dedup run.

    Scale — one band self-join + one verification for the whole
    ladder (same r10 rewrite as dedup_lsh_recall_by_jaccard): the
    nested band boundaries make the loosest setting's candidate set a
    superset of every other's, so the plan joins once at max-bands,
    flags each pair's membership per setting as codegen boolean
    expressions over its own signature columns (_band_collides),
    verifies exact Jaccard once, and reads every ladder row out of one
    conditional aggregation.  The ORACLE keeps the direct per-setting
    band-join formulation — the spec the parity test proves this
    optimization against.  Oracle-backed since r10 (the md5 mulmod
    family is DuckDB-reproducible); monotonicity + subset invariants
    remain in tests/test_llm_pipeline.py."""
    sh = _shingled(spark, sf_dir).localCheckpoint(eager=True)
    sig = _minhash_signatures(spark, sf_dir).localCheckpoint(eager=True)
    exact = (
        dedup_ngram_jaccard_pairs(spark, sf_dir)
        .select("d1", "d2")
        .localCheckpoint(eager=True)
    )
    n_exact = exact.agg(F.count("*").alias("exact_pairs"))
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("shs").alias("shs1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("shs").alias("shs2"))
    flags = _sig_pair_flags(sig, _loosest_band_candidates(sig))
    jac = F.col("common") / (
        F.size("shs1") + F.size("shs2") - F.col("common")
    )
    scored = (
        flags.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("common", F.size(F.array_intersect("shs1", "shs2")))
        .withColumn("verified", jac >= JACCARD_THRESHOLD)
        .join(exact.withColumn("ex", F.lit(True)), ["d1", "d2"], "left")
        .select(
            *[F.col(f"c{nb}") for nb in LSH_LADDER_BANDS],
            "verified",
            F.coalesce("ex", F.lit(False)).alias("ex"),
        )
    )
    zero = F.lit(0).cast("long")
    agg = scored.agg(
        *[
            agg_col
            for nb in LSH_LADDER_BANDS
            for agg_col in (
                F.coalesce(
                    F.sum(F.col(f"c{nb}").cast("long")), zero
                ).alias(f"cand{nb}"),
                F.coalesce(
                    F.sum((F.col(f"c{nb}") & F.col("verified")).cast("long")),
                    zero,
                ).alias(f"ver{nb}"),
                F.coalesce(
                    F.sum(
                        (
                            F.col(f"c{nb}") & F.col("verified") & F.col("ex")
                        ).cast("long")
                    ),
                    zero,
                ).alias(f"hit{nb}"),
            )
        ]
    )
    melted = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(nb).alias("bands"),
                        F.lit(MINHASH_PERMS // nb).alias("rows_per_band"),
                        F.col(f"cand{nb}").alias("candidates"),
                        F.col(f"ver{nb}").alias("verified_pairs"),
                        F.col(f"hit{nb}").alias("hits"),
                    )
                    for nb in LSH_LADDER_BANDS
                ]
            )
        ).alias("s")
    ).select("s.*")
    return (
        melted.crossJoin(F.broadcast(n_exact))
        .select(
            "bands",
            "rows_per_band",
            "candidates",
            "verified_pairs",
            "hits",
            "exact_pairs",
            F.when(
                F.col("exact_pairs") > 0,
                _fr4(F.col("hits") * F.lit(1.0) / F.col("exact_pairs")),
            ).alias("recall"),
        )
        .orderBy("bands")
    )


def _lsh_band_ladder_oracle() -> str:
    setting_selects = []
    for nb in LSH_LADDER_BANDS:
        band_rows = ",\n      ".join(
            f"({b}, {_band_key_duck(nb, b)})" for b in range(nb)
        )
        setting_selects.append(
            f"""SELECT {nb} AS nb, doc_id, t.band, t.bkey FROM sig,
    LATERAL (VALUES
      {band_rows}
    ) AS t(band, bkey)"""
        )
    bands_union = "\n  UNION ALL\n  ".join(setting_selects)
    settings = ", ".join(str(nb) for nb in LSH_LADDER_BANDS)
    return f"""
WITH {_minhash_sig_duck()},
bands AS (
  {bands_union}
),
cand AS (
  SELECT DISTINCT a.nb, a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.nb = b.nb AND a.band = b.band AND a.bkey = b.bkey
   AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         COUNT(*) AS common,
         ANY_VALUE(a.n) AS n1, ANY_VALUE(b.n) AS n2
  FROM exsh a JOIN exsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
exact AS (
  SELECT d1, d2 FROM pairs
  WHERE common * 1.0 / (n1 + n2 - common) >= {JACCARD_THRESHOLD}
),
verc AS (
  SELECT c.nb, c.d1, c.d2
  FROM cand c JOIN pairs p ON c.d1 = p.d1 AND c.d2 = p.d2
  WHERE p.common * 1.0 / (p.n1 + p.n2 - p.common) >= {JACCARD_THRESHOLD}
),
cagg AS (SELECT nb, COUNT(*) AS candidates FROM cand GROUP BY nb),
vagg AS (SELECT nb, COUNT(*) AS verified_pairs FROM verc GROUP BY nb),
hagg AS (
  SELECT v.nb, COUNT(*) AS hits
  FROM verc v JOIN exact e ON v.d1 = e.d1 AND v.d2 = e.d2
  GROUP BY v.nb
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs FROM exact),
st AS (SELECT UNNEST([{settings}]) AS nb)
SELECT CAST(st.nb AS INTEGER) AS bands,
       CAST({MINHASH_PERMS} // st.nb AS INTEGER) AS rows_per_band,
       CAST(COALESCE(c.candidates, 0) AS BIGINT) AS candidates,
       CAST(COALESCE(v.verified_pairs, 0) AS BIGINT) AS verified_pairs,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       t.exact_pairs,
       CASE WHEN t.exact_pairs > 0 THEN
         floor(COALESCE(h.hits, 0) * 1.0 / t.exact_pairs
               * 10000.0 + 0.5) / 10000.0
       END AS recall
FROM st
LEFT JOIN cagg c ON c.nb = st.nb
LEFT JOIN vagg v ON v.nb = st.nb
LEFT JOIN hagg h ON h.nb = st.nb
CROSS JOIN tot t
ORDER BY bands
"""


DEDUP_LSH_LADDER_ORACLE = _lsh_band_ladder_oracle()


# --------------------------------------------------------------------------
def _jaccard_bin_expr():
    """Decile bin of a 4dp-rounded jaccard, computed in INTEGER space
    (the 4dp value ×10⁴ is exact, so no float-edge drift between
    engines): floor(j·10⁴+0.5) div 1000, capped at 9 so j = 1.0 lands
    in the top bin."""
    return F.expr(
        "least(CAST(floor(jaccard * 10000.0 + 0.5) AS BIGINT) DIV 1000, 9)"
    )


_JACCARD_BIN_DUCK = (
    "LEAST(CAST(floor(jaccard * 10000.0 + 0.5) AS BIGINT) // 1000, 9)"
)


def dedup_lsh_recall_by_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per (bands, jaccard-decile-bin): how many exact near-dup pairs
    the LSH candidate stage catches — the measured S-curve the
    1-(1-j^r)^b formula only predicts.  The ladder
    (dedup_lsh_band_ladder) reports AGGREGATE recall; this table shows
    WHERE the misses live (always the bins just above the threshold),
    which is the fact that decides whether a coarser banding is safe
    for a given duplication profile: if the corpus's dup mass sits at
    j ≥ 0.8, a setting that loses half the 0.5-bin pairs may still be
    the right trade.

    Scale — NO band self-join at all (r15): this table only ever
    reads a pair's collision flags when the pair is ALREADY in the
    exact near-dup set, so the loosest-band candidate generation the
    r10 rewrite still paid (band posexplode ×2 → self-join →
    distinct — the widest exchange in the query) is dead weight:
    c{nb} for an exact pair is a pure function of its two signature
    rows (_band_collides — OR over bands of AND over rows-per-band
    equality), and a pair OUTSIDE the loosest candidate set evaluates
    every flag False exactly as the old left-join's null→False
    coalesce did, by the same band-nesting theorem (collision at any
    setting implies collision at 16 bands).  The plan is now: exact
    pairs ⋈ signatures ×2 (equi-joins on doc id) → per-pair codegen
    flags → one bin aggregation (the before/after numbers live in
    OPTIMIZATION_r15.md).  The ORACLE keeps the direct per-setting band-join
    formulation: it is the SPEC, and the nesting theorem is exactly
    the equivalence the parity test then proves on real data.
    Signature table and binned exact pairs are localCheckpoint-ed and
    shared."""
    sig = _minhash_signatures(spark, sf_dir).localCheckpoint(eager=True)
    exact = (
        dedup_ngram_jaccard_pairs(spark, sf_dir)
        .select("d1", "d2", _jaccard_bin_expr().alias("bin"))
        .localCheckpoint(eager=True)
    )
    s1 = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"mh{k}").alias(f"x{k}") for k in range(MINHASH_PERMS)],
    )
    s2 = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"mh{k}").alias(f"y{k}") for k in range(MINHASH_PERMS)],
    )
    # inner joins lose no exact pair: both docs of an exact pair have
    # ≥ 1 shingle by construction, so both carry a signature row
    flagged = (
        exact.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "bin",
            *[
                _band_collides(nb).alias(f"c{nb}")
                for nb in LSH_LADDER_BANDS
            ],
        )
    )
    agg = flagged.groupBy("bin").agg(
        F.count("*").alias("n_exact"),
        *[
            F.sum(F.col(f"c{nb}").cast("long")).alias(f"caught{nb}")
            for nb in LSH_LADDER_BANDS
        ],
    )
    melted = agg.select(
        "bin",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(nb).alias("bands"),
                        F.lit(MINHASH_PERMS // nb).alias("rows_per_band"),
                        F.col(f"caught{nb}").alias("n_caught"),
                    )
                    for nb in LSH_LADDER_BANDS
                ]
            )
        ).alias("s"),
    )
    return melted.select(
        F.col("s.bands").alias("bands"),
        F.col("s.rows_per_band").alias("rows_per_band"),
        (F.col("bin").cast("double") / 10.0).alias("jaccard_bin"),
        "n_exact",
        F.col("s.n_caught").alias("n_caught"),
        _fr4(F.col("s.n_caught") * F.lit(1.0) / F.col("n_exact")).alias(
            "recall"
        ),
    ).orderBy("bands", "jaccard_bin")


def _lsh_recall_by_jaccard_oracle() -> str:
    setting_selects = []
    for nb in LSH_LADDER_BANDS:
        band_rows = ",\n      ".join(
            f"({b}, {_band_key_duck(nb, b)})" for b in range(nb)
        )
        setting_selects.append(
            f"""SELECT {nb} AS nb, doc_id, t.band, t.bkey FROM sig,
    LATERAL (VALUES
      {band_rows}
    ) AS t(band, bkey)"""
        )
    bands_union = "\n  UNION ALL\n  ".join(setting_selects)
    return f"""
WITH {_minhash_sig_duck()},
bands AS (
  {bands_union}
),
cand AS (
  SELECT DISTINCT a.nb, a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.nb = b.nb AND a.band = b.band AND a.bkey = b.bkey
   AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         COUNT(*) AS common,
         ANY_VALUE(a.n) AS n1, ANY_VALUE(b.n) AS n2
  FROM exsh a JOIN exsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
exact AS (
  SELECT d1, d2,
         floor(common * 1.0 / (n1 + n2 - common) * 10000.0 + 0.5)
           / 10000.0 AS jaccard
  FROM pairs
  WHERE common * 1.0 / (n1 + n2 - common) >= {JACCARD_THRESHOLD}
),
exb AS (
  SELECT d1, d2, {_JACCARD_BIN_DUCK} AS bin FROM exact
),
tot AS (SELECT bin, COUNT(*) AS n_exact FROM exb GROUP BY bin),
caught AS (
  SELECT c.nb, e.bin, COUNT(*) AS n_caught
  FROM cand c JOIN exb e ON c.d1 = e.d1 AND c.d2 = e.d2
  GROUP BY c.nb, e.bin
),
st AS (SELECT UNNEST([{", ".join(str(nb) for nb in LSH_LADDER_BANDS)}]) AS nb)
SELECT CAST(st.nb AS INTEGER) AS bands,
       CAST({MINHASH_PERMS} // st.nb AS INTEGER) AS rows_per_band,
       CAST(t.bin AS DOUBLE) / 10.0 AS jaccard_bin,
       t.n_exact,
       CAST(COALESCE(c.n_caught, 0) AS BIGINT) AS n_caught,
       floor(COALESCE(c.n_caught, 0) * 1.0 / t.n_exact
             * 10000.0 + 0.5) / 10000.0 AS recall
FROM st
CROSS JOIN tot t
LEFT JOIN caught c ON c.nb = st.nb AND c.bin = t.bin
ORDER BY bands, jaccard_bin
"""


DEDUP_LSH_RECALL_BY_JACCARD_ORACLE = _lsh_recall_by_jaccard_oracle()


# --------------------------------------------------------------------------
def dedup_shingle_docfreq_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dup pressure report: distribution of shingle
    doc-frequency (how skewed the inverted index is — the quantity that
    decides whether the exact join or LSH is affordable)."""
    sh = _shingled(spark, sf_dir)
    df_counts = (
        sh.select(F.explode("shs").alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("doc_freq"))
    )
    return (
        df_counts.groupBy("doc_freq")
        .agg(F.count("*").alias("shingle_count"))
        .orderBy("doc_freq")
    )


DEDUP_DF_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shs FROM w
),
ex AS (
  SELECT doc_id, UNNEST(shs) AS s FROM sh WHERE len(shs) > 0
),
dfreq AS (
  SELECT s, COUNT(*) AS doc_freq FROM ex GROUP BY s
)
SELECT doc_freq, COUNT(*) AS shingle_count
FROM dfreq
GROUP BY doc_freq
ORDER BY doc_freq
"""


# --------------------------------------------------------------------------
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document via an Arrow-batched pandas UDF
    (numpy bit-vote over md5-derived token hashes).  Rows-only checked:
    the bit-level fold is not SQL-expressible in the oracle.

    Scale: pure narrow map over documents — no shuffle; near-dup
    retrieval then buckets signatures by Hamming bands exactly like
    MinHash LSH."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def simhash64(texts: pd.Series) -> pd.Series:
        # batch-vectorized: each DISTINCT token in the Arrow batch is
        # md5-hashed once (vocab dedup — tokens repeat heavily across
        # docs), bit expansion is one (vocab, 64) matrix op, and the
        # per-doc vote sums fold in a single np.add.reduceat.  The
        # per-row/per-token loop form allocated a 64-wide array per
        # token and ran ~2.5x slower at sf0.1.
        tok_lists = [sorted(set((t or "").split())) for t in texts]
        vocab: dict[str, int] = {}
        for toks in tok_lists:
            for t in toks:
                if t not in vocab:
                    vocab[t] = len(vocab)
        n_docs = len(tok_lists)
        sigs = np.zeros(n_docs, dtype=np.uint64)
        if vocab:
            hs = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                    for t in vocab
                ),
                dtype=np.uint64,
                count=len(vocab),
            )
            bits = (
                (hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)
            ).astype(np.int64)  # (vocab, 64)
            counts = np.fromiter(
                (len(toks) for toks in tok_lists), dtype=np.int64, count=n_docs
            )
            nonempty = np.flatnonzero(counts)
            if len(nonempty):
                idx = np.fromiter(
                    (vocab[t] for toks in tok_lists for t in toks),
                    dtype=np.int64,
                    count=int(counts.sum()),
                )
                offsets = np.concatenate(([0], np.cumsum(counts[nonempty])[:-1]))
                ones = np.add.reduceat(bits[idx], offsets, axis=0)  # (ne, 64)
                votes = 2 * ones - counts[nonempty, None]
                sig_bits = (votes > 0).astype(np.uint64)
                sigs[nonempty] = (
                    sig_bits << np.arange(64, dtype=np.uint64)[None, :]
                ).sum(axis=1, dtype=np.uint64)
        return pd.Series(sigs.view(np.int64), dtype="int64")

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", simhash64("text").alias("simhash")).orderBy("doc_id")


# Oracle twin of the numpy bit-vote (converted rows-only → oracle in
# r6): each of the 64 signature bits is a majority vote over the
# document's distinct tokens, and a token hash BIT needs no 64-bit
# integer parsing — bit k lives in hex nibble k//4 (from the LSB, i.e.
# hex char 16 − k//4 of the md5's first 16 chars), shifted by k%4.
# The signed reinterpretation of the uint64 fold (numpy .view(int64))
# maps to bit 63 contributing −2⁶³.  Tokenization matches _TOKS
# (split on ' ', drop empties — the corpus has no other whitespace).
DEDUP_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_filter(string_split(text, ' '),
                                          x -> x <> ''))) AS t
  FROM documents
),
h AS (SELECT doc_id, substr(md5(t), 1, 16) AS hx FROM toks),
expanded AS (
  SELECT doc_id, hx, UNNEST(range(64)) AS k FROM h
),
votes AS (
  SELECT doc_id, k,
         SUM(((strpos('0123456789abcdef',
                      substr(hx, CAST(16 - k // 4 AS BIGINT), 1)) - 1)
              >> (k % 4)) & 1) AS ones,
         COUNT(*) AS n
  FROM expanded GROUP BY doc_id, k
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN 2 * ones > n THEN
                    CASE WHEN k = 63 THEN -9223372036854775807 - 1
                         ELSE (CAST(1 AS BIGINT) << k) END
                  ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
FROM documents d LEFT JOIN sig s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
CLUSTER_MAX_ITERS = 20

#: Spark conf key switching the iterative-CC materialization from
#: executor-local checkpoints (fast, but lineage-truncated blocks are
#: lost with their executor — fine single-node) to reliable
#: `checkpoint()` files under the session's checkpoint dir (survives
#: executor loss — the setting a 1000-executor deployment wants).
RELIABLE_CKPT_CONF = "spark.bigdata_gamedb_etl.reliableCheckpoint"


def _materialize_iter(
    df: DataFrame, *observed: Column, supersedes: DataFrame | None = None
) -> DataFrame | tuple[DataFrame, tuple]:
    """The one lineage barrier of the iterative loops.  Always eager:
    `df` is materialized before this returns, so no loop nests its
    rounds' plans.

    `observed` aggregates ride the materializing job via `observe()`:
    the call then returns `(frame, values)`, one value per aggregate
    over exactly the rows materialized, so a loop's convergence test
    runs no job of its own.  Without them it returns the frame.

    RELIABLE_CKPT_CONF picks where the data lives: executor-local
    blocks by default, or `checkpoint()` files under the session's
    checkpoint dir.  When none is set the engine creates a temp dir
    and removes it at interpreter exit; a dir the user set is never
    removed.  On that path the files of `supersedes` (the barrier this
    one replaces, no longer read once this one is written) are deleted
    here through `_release_ckpt`: Spark's cleaner removes checkpoint
    files only at GC time and only with
    spark.cleaner.referenceTracking.cleanCheckpoints set, so a loop
    would otherwise leak one checkpoint per round."""
    obs = Observation() if observed else None
    if obs is not None:
        df = df.observe(
            obs, *(c.alias(f"v{i}") for i, c in enumerate(observed))
        )
    spark = df.sparkSession
    if spark.conf.get(RELIABLE_CKPT_CONF, "false").lower() != "true":
        out = df.localCheckpoint(eager=True)
    else:
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            d = tempfile.mkdtemp(prefix="gamedb-etl-ckpt-")
            atexit.register(shutil.rmtree, d, ignore_errors=True)
            sc.setCheckpointDir(d)
        out = df.checkpoint(eager=True)
        if supersedes is not None:
            _release_ckpt(supersedes)
    if obs is None:
        return out
    vals = obs.get
    return out, tuple(vals[f"v{i}"] for i in range(len(observed)))


def _release_ckpt(df: DataFrame) -> None:
    """Delete the checkpoint files behind a barrier's frame, once
    nothing reads it: the barrier calls this for the frame it
    supersedes, and a loop for a barrier its result no longer reads.
    The path comes from the frame itself (its analyzed plan is a
    LogicalRDD whose RDD reports `getCheckpointFile`): exact ownership,
    so this never deletes the live checkpoint of a concurrent query in
    the same session.  A no-op for a local checkpoint and off the
    local fs."""
    try:
        opt = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        if not opt.isDefined():
            return
        p = opt.get()
    except Exception:
        return
    if p.startswith("file:"):
        p = p[len("file:") :]
        while p.startswith("//"):
            p = p[1:]
    elif "://" in p:
        return
    shutil.rmtree(p, ignore_errors=True)


def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc in
    ≥1 Jaccard pair gets a cluster_id = the smallest doc_id reachable
    through pairs — the final dedup step (keep one doc per component,
    not per pair, so A~B, B~C collapses to one keeper even when A~C
    was never emitted).

    Iterative min-label propagation (the Pregel/GraphX shape): each
    round every node takes the min of its own and its neighbors'
    labels; converges in O(component diameter) rounds — near-dup
    clusters are shallow, so a handful.  The driver loop carries only
    the label sum each round's barrier observes, and that barrier cuts
    lineage (executor-local by default; set RELIABLE_CKPT_CONF=true
    for fault-tolerant checkpoint files at cluster scale); all data
    stays distributed.  Oracle: DuckDB recursive CTE computing
    reachability (exponential-ish, fine at oracle SF)."""
    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).select("d1", "d2")
    return _min_label_components(pairs)


def _min_label_components(
    pairs: DataFrame, stats: dict | None = None
) -> DataFrame:
    """Min-label-propagation connected components over an undirected
    (d1, d2) pair DataFrame — shared by the exact-Jaccard and the
    LSH-candidate cluster assignments (identical loop, different edge
    generators).  `stats["rounds"]` records the converged round count
    (the chain-fixture test compares it against the star variant)."""
    # materialize the edge list ONCE: without this every iteration's
    # join re-executes the whole shingle/posting-list pair generation
    # (measured 4 s of the loop's 9.5 s at sf0.1, once per round).
    edges = _materialize_iter(
        pairs.union(
            pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
        ).toDF("src", "nbr")
    )
    # Convergence via the label-sum invariant: labels only ever
    # decrease, so the total is strictly smaller after any change and a
    # repeated sum means fixpoint — one scalar observed by each round's
    # barrier instead of an old-vs-new compare join.
    # DECIMAL(38,0) sum: labels can be 64-bit simhash values (the
    # signature-graph CC in dedup_simhash_clusters), whose BIGINT sum
    # overflows under ANSI mode; decimal keeps the invariant exact.
    _label_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    labels, prev_sum = _materialize_iter(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node")),
        _label_sum,
    )
    rounds = 0
    for _ in range(CLUSTER_MAX_ITERS):
        rounds += 1
        # min over self ∪ neighbor labels in ONE aggregate: the node's
        # own (node, comp) rows union the neighbor-relabeled edge rows,
        # replacing the old groupBy + left-join-back round trip.
        labels, new_sum = _materialize_iter(
            edges.join(labels, edges["nbr"] == labels["node"])
            .select(F.col("src").alias("node"), "comp")
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp")),
            _label_sum,
            supersedes=labels,
        )
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # loud failure beats silently returning non-fixpoint labels as
        # cluster assignments (far-end nodes of a >CLUSTER_MAX_ITERS-
        # diameter chain would keep a wrong cluster_id and downstream
        # keeper selection would keep several "keepers" per true
        # cluster).  A graph this deep is the documented signal to use
        # the star variant, whose round count is O(log² n).
        raise RuntimeError(
            f"min-label CC did not converge in {CLUSTER_MAX_ITERS} "
            "rounds (component diameter exceeds the cap) — use "
            "_star_components / dedup_cluster_assign_star"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # the result reads only the final labels, so the edge list's files
    # can go now; the labels' own files stay for as long as it is read.
    _release_ckpt(edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Large-star / small-star connected components (Kiveris, Lattanzi,
# Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
# MapReduce and Beyond", SoCC'14): the published web-scale CC that
# converges in O(log² n) ROUNDS REGARDLESS OF DIAMETER, vs min-label
# propagation's O(diameter).  At 100 TB a single skewed chain-shaped
# component stalls the min-label loop (each round moves the min one
# hop); the star operations re-wire the tree toward the component
# minimum geometrically instead.  r7 verdict item 6.
#
#   large-star(u): connect every STRICTLY LARGER neighbor of u to
#     m = min(Γ(u) ∪ {u})
#   small-star(u): connect every smaller-or-equal neighbor AND u
#     itself to m = min(Γ⁻(u) ∪ {u})
#
# Both are one groupBy (neighborhood min) + one join per application;
# alternating them strictly decreases the total endpoint sum of the
# canonical edge set on any change (ids are non-negative), so
# (count, Σlo, Σhi) equality is an exact fixpoint test — one
# aggregate observed by each round's barrier, as in the min-label
# loop.  At the fixpoint the graph is a union of stars rooted at each
# component's minimum, so every node directly neighbors its component
# id and the final labels are one neighborhood-min aggregate.
STAR_MAX_ITERS = 25


def _star_components(
    pairs: DataFrame, stats: dict | None = None
) -> DataFrame:
    """Alternating large-star/small-star CC over an undirected
    (d1, d2) pair DataFrame — same contract (and same oracle: component
    membership is algorithm-independent) as _min_label_components.
    `stats["rounds"]` records the converged round count for the
    chain-graph convergence test."""
    # decimal sums for the same ANSI-overflow reason as the min-label
    # probe: node ids may be 64-bit signature values.
    _star_sig = (
        F.count("*"),
        F.sum(F.col("lo").cast("decimal(38,0)")),
        F.sum(F.col("hi").cast("decimal(38,0)")),
    )
    edges, prev_sig = _materialize_iter(
        pairs.select(
            F.least("d1", "d2").alias("lo"),
            F.greatest("d1", "d2").alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct(),
        *_star_sig,
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).unionAll(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )

    rounds = 0
    for _ in range(STAR_MAX_ITERS):
        rounds += 1
        # LARGE-STAR: (v, m) for every neighbor v > u; m ≤ u < v so the
        # canonical form is (lo=m, hi=v) with no self-loops possible
        sym = _sym(edges)
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select(
            "u", F.least("mn", F.col("u")).alias("m")
        )
        # materialize the large-star result: _sym(edges) below embeds
        # this subtree twice (unionAll branches) and `smaller` feeds
        # both mins2 and the join probe side — unmaterialized, the
        # join+distinct would re-execute up to 4× per round (the same
        # reason the min-label loop materializes its edge list)
        ls_edges = _materialize_iter(
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .distinct(),
            supersedes=edges,
        )
        # SMALL-STAR: for each u over its smaller neighbors Γ⁻(u):
        # (v, m) for every v ∈ Γ⁻(u) plus (u, m), m = min Γ⁻(u) < u.
        # Every canonical edge (a < b) is covered from b's perspective.
        smaller = _sym(ls_edges).where(F.col("v") < F.col("u"))
        mins2 = smaller.groupBy("u").agg(F.min("v").alias("m"))
        edges, sig = _materialize_iter(
            smaller.join(mins2, "u")
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .unionAll(
                mins2.select(
                    F.col("m").alias("lo"), F.col("u").alias("hi")
                )
            )
            .where(F.col("lo") != F.col("hi"))
            .distinct(),
            *_star_sig,
            supersedes=ls_edges,
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # same loud-failure contract as the min-label loop: the paper
        # bound is O(log² n) rounds, so exhausting STAR_MAX_ITERS on
        # real data means the fixpoint probe is broken, not that the
        # graph is "too big" — never return non-fixpoint labels
        raise RuntimeError(
            f"star CC did not converge in {STAR_MAX_ITERS} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return (
        _sym(edges)
        .groupBy(F.col("u").alias("doc_id"))
        .agg(F.min("v").alias("mn"))
        .select(
            "doc_id",
            F.least("mn", F.col("doc_id")).alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


def dedup_cluster_assign_star(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components over the exact-Jaccard near-dup graph via
    alternating large-star/small-star — identical output contract (and
    oracle) to dedup_cluster_assign, but O(log² n) rounds instead of
    O(component diameter): the variant to prefer at 100 TB where one
    chain-shaped component would stall min-label propagation.
    tests/test_llm_pipeline.py asserts the round count is strictly
    smaller on a chain-graph fixture.

    Measured (r8 BENCH_DETAIL scale_probe, factor 10): star 4.50 →
    12.41 s (ratio 2.76) vs min-label 3.84 → 7.98 s (ratio 2.08) —
    both near-linear, min-label cheaper at local scale because the
    shallow near-dup components here converge it in a handful of
    rounds while star pays fixed per-round rewiring joins.  The
    crossover argument for 100 TB is DEPTH, which corpus replication
    cannot grow: star's round count is diameter-independent, so it is
    the declared scale path while min-label stays the local default."""
    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).select("d1", "d2")
    return _star_components(pairs)


# reachability closure over the symmetric pair graph; component id =
# min reachable node (including self)
DEDUP_CLUSTER_ORACLE = f"""
WITH RECURSIVE
base_pairs AS ({DEDUP_JACCARD_ORACLE}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM base_pairs
  UNION
  SELECT d2, d1 FROM base_pairs
),
walk (node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT w.node, e.b FROM walk w JOIN edges e ON w.r = e.a
)
SELECT node AS doc_id, LEAST(node, MIN(r)) AS cluster_id
FROM walk
GROUP BY node
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# The 100 TB composition end-to-end: LSH candidate generation → exact-
# Jaccard verification of candidates only → connected components.
# Same loop as dedup_cluster_assign, but the edge generator is the
# banded MinHash pipeline whose candidate count stays LINEAR in the
# corpus (the exact posting-list generator is the small-scale tier).
# Oracle-backed since r10 (recursive-CTE reachability over the
# DuckDB-reproducible minhash pair set — the md5 mulmod family made
# the edge generator SQL-expressible); pytest additionally pins
# determinism (fixed hash seeds, no RNG) and the REFINEMENT
# invariant — every LSH edge is
# exact-verified at ≥ the same Jaccard threshold, so the LSH edge set
# is a subset of the exact edge set and every LSH cluster maps into
# exactly one exact cluster.  The subset claim holds when the shingle
# df cap is not binding (asserted at test SF by
# test_shingle_df_cap_is_inactive_at_test_sf): the exact tier computes
# Jaccard from df-CAPPED postings while LSH verification intersects
# the full shingle sets, so on a corpus where a shared block exceeds
# the cap the two tiers count `common` differently and an edge can
# exist in one but not the other — at that scale the tiers are two
# different declared approximations, not subset-ordered.
def dedup_lsh_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH-candidate near-dup graph —
    the cluster assignment that scales to 100 TB; refines (never
    merges across) the exact-tier clusters wherever the df cap is not
    binding (see the block comment above for the capped-corpus
    caveat).

    Components via the star operations, not min-label: this is the
    operator framed as THE 100 TB path, and min-label's O(diameter)
    rounds stall on a skewed chain component at that scale — the
    exact situation _star_components (O(log² n) rounds) exists for.
    Same output contract; component membership is
    algorithm-independent."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("d1", "d2")
    return _star_components(pairs)


DEDUP_LSH_CLUSTER_ORACLE = f"""
WITH RECURSIVE
base_pairs AS ({DEDUP_MINHASH_LSH_ORACLE}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM base_pairs
  UNION
  SELECT d2, d1 FROM base_pairs
),
walk (node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT w.node, e.b FROM walk w JOIN edges e ON w.r = e.a
)
SELECT node AS doc_id, LEAST(node, MIN(r)) AS cluster_id
FROM walk
GROUP BY node
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# Keeper selection — the step that actually ENDS the dedup story: for
# every near-dup cluster, choose ONE canonical survivor by a quality
# criterion instead of the arbitrary min-id convention, and report
# what gets dropped.  Curation pipelines keep the longest/highest-
# quality member (dropping boilerplate-trimmed variants); the
# deterministic rule here is max token count, ties to the smallest
# doc_id — expressed as Spark `max_by(doc_id, struct(token_count,
# -doc_id))` with the DuckDB ordered-aggregate twin
# `FIRST(doc_id ORDER BY token_count DESC, doc_id)` (arg_max rejects
# composite keys — the ts_ohlc_hourly recipe).
#
# Scale: the cluster assignment is the iterative CC operator above
# (its own audited shape); keeper selection adds one broadcast-ready
# join to the per-doc token counts and one hash-agg on cluster_id.
def dedup_keeper_selection(
    spark: SparkSession, sf_dir: str, clusters: DataFrame | None = None
) -> DataFrame:
    """Per near-dup cluster: size, the quality-chosen keeper, its
    token count, and how many docs the cluster drops.

    `clusters` lets a composing query (pipeline_corpus_emit) pass an
    already-built cluster assignment so the iterative CC loop runs
    ONCE per composition instead of once per consumer — the loop is
    the dominant cost (measured ~3.4 s of corpus_emit's 9.1 s at
    sf0.1 was a duplicate CC execution)."""
    from .textops import _TOKS

    if clusters is None:
        clusters = dedup_cluster_assign(spark, sf_dir)
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(f"size({_TOKS})").alias("token_count")
    )
    key = F.struct(
        F.col("token_count").alias("tc"), (-F.col("doc_id")).alias("nid")
    )
    return (
        clusters.join(toks, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.max_by("doc_id", key).alias("keeper_id"),
            F.max_by("token_count", key).alias("keeper_token_count"),
            (F.count("*") - 1).alias("dropped_docs"),
        )
        .orderBy("cluster_id")
    )


def _keeper_oracle() -> str:
    from .textops import _TOKS_DUCK

    return f"""
WITH clusters AS ({DEDUP_CLUSTER_ORACLE}),
toks AS (
  SELECT doc_id, CAST(len({_TOKS_DUCK}) AS INTEGER) AS token_count
  FROM documents
)
SELECT c.cluster_id,
       COUNT(*) AS cluster_size,
       FIRST(t.doc_id ORDER BY t.token_count DESC, t.doc_id)
         AS keeper_id,
       FIRST(t.token_count ORDER BY t.token_count DESC, t.doc_id)
         AS keeper_token_count,
       COUNT(*) - 1 AS dropped_docs
FROM clusters c JOIN toks t ON c.doc_id = t.doc_id
GROUP BY c.cluster_id
ORDER BY c.cluster_id
"""


DEDUP_KEEPER_ORACLE = _keeper_oracle()


# --------------------------------------------------------------------------
# Benchmark decontamination: eval-set membership is doc_id % DECON_MOD
# == 0 — a deterministic stand-in for a real benchmark table (the query
# shape is identical when the eval side is its own source).
DECON_MOD = 97
DECON_FLAG_RATIO = 0.1


def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination report: for each training doc, the fraction
    of its 3-gram shingles that appear anywhere in the benchmark set —
    the n-gram-overlap decontamination check training pipelines run
    before a corpus ships.  Only overlapping docs are reported, with a
    drop flag at ≥ 10% overlap.

    Scale: the benchmark side collapses to DISTINCT 8-byte shingle
    hashes — eval suites are tiny relative to a 100 TB corpus, so the
    hash set broadcasts and the corpus side never shuffles; per-doc
    overlap counting is a map-side aggregate on doc_id after a
    broadcast-hash-join probe."""
    sh = _shingled(spark, sf_dir)
    is_bench = F.col("doc_id") % DECON_MOD == 0
    corpus = sh.where(~is_bench).select(
        "doc_id",
        F.size("shs").alias("n"),
        F.explode(F.transform("shs", lambda s: F.xxhash64(s))).alias("s"),
    )
    bench = (
        sh.where(is_bench)
        .select(F.explode(F.transform("shs", lambda s: F.xxhash64(s))).alias("s"))
        .distinct()
    )
    ratio = F.col("overlap") / F.col("n")
    return (
        corpus.join(bench, "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap"), F.first("n").alias("n"))
        .select(
            "doc_id",
            "overlap",
            F.col("n").alias("total_shingles"),
            _fr4(ratio).alias("contamination_ratio"),
            (ratio >= DECON_FLAG_RATIO).alias("drop_doc"),
        )
        .orderBy("doc_id")
    )


DEDUP_DECON_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shs
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
nonempty AS (SELECT * FROM sh WHERE len(shs) >= 1),
corpus AS (
  SELECT doc_id, len(shs) AS n, UNNEST(shs) AS s
  FROM nonempty WHERE doc_id % {DECON_MOD} <> 0
),
bench AS (
  SELECT DISTINCT UNNEST(shs) AS s FROM nonempty WHERE doc_id % {DECON_MOD} = 0
)
SELECT doc_id,
       COUNT(*) AS overlap,
       ANY_VALUE(n) AS total_shingles,
       floor(COUNT(*) * 1.0 / ANY_VALUE(n) * 10000.0 + 0.5) / 10000.0
         AS contamination_ratio,
       COUNT(*) * 1.0 / ANY_VALUE(n) >= {DECON_FLAG_RATIO} AS drop_doc
FROM corpus JOIN bench USING (s)
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Incremental ingestion dedup: every production corpus grows in batches,
# and re-running all-pairs dedup over (corpus + batch) per ingest is
# quadratic over time.  The incremental shape joins ONLY the new batch's
# shingles against the existing corpus's inverted index.
INCR_MOD = 5  # doc_id % INCR_MOD == 0 plays the "new batch" role


def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each new-batch document, its best near-dup match (word-3-gram
    Jaccard >= JACCARD_THRESHOLD, argmax jaccard, ties to lowest
    existing doc_id) in the existing corpus — the drop list an
    incremental ingest applies before appending.

    Scale shape: the batch side is exploded fresh (it's small); the
    corpus side is the SAME (shingle-hash → doc) inverted index the
    batch-mode dedup builds, so a deployment persists it once
    (bucketed by hash) and each ingest shuffles only the batch.  The
    join is batch-shingles × matching postings — cost tracks batch
    size, not corpus size; the argmax is a tiny window over candidate
    matches."""
    sh = _shingled(spark, sf_dir)
    is_new = F.col("doc_id") % INCR_MOD == 0
    ex = lambda df: df.select(  # noqa: E731 — local shaping helper
        "doc_id",
        F.size("shs").alias("n"),
        F.explode(F.transform("shs", lambda s: F.xxhash64(s))).alias("s"),
    )
    new, old = ex(sh.where(is_new)), ex(sh.where(~is_new))
    cand = (
        new.alias("a")
        .join(old.alias("b"), F.col("a.s") == F.col("b.s"))
        .groupBy(
            F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("match_id")
        )
        .agg(
            F.count("*").alias("common"),
            F.first("a.n").alias("n1"),
            F.first("b.n").alias("n2"),
        )
    )
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    w = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("match_id")
    )
    return (
        cand.where(jac >= JACCARD_THRESHOLD)
        .select("new_id", "match_id", _fr4(jac).alias("jaccard"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("new_id")
    )


DEDUP_INCR_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS shs FROM w),
ex AS (SELECT doc_id, len(shs) AS n, UNNEST(shs) AS s FROM sh WHERE len(shs) > 0),
cand AS (
  SELECT a.doc_id AS new_id, b.doc_id AS match_id,
         COUNT(*) AS common, ANY_VALUE(a.n) AS n1, ANY_VALUE(b.n) AS n2
  FROM ex a JOIN ex b ON a.s = b.s
  WHERE a.doc_id % {INCR_MOD} = 0 AND b.doc_id % {INCR_MOD} <> 0
  GROUP BY a.doc_id, b.doc_id
),
jacs AS (
  SELECT new_id, match_id,
         floor(common * 1.0 / (n1 + n2 - common) * 10000.0 + 0.5) / 10000.0
           AS jaccard
  FROM cand
  WHERE common * 1.0 / (n1 + n2 - common) >= {JACCARD_THRESHOLD}
),
scored AS (
  SELECT new_id, match_id, jaccard,
         ROW_NUMBER() OVER (
           PARTITION BY new_id ORDER BY jaccard DESC, match_id
         ) AS rn
  FROM jacs
)
SELECT new_id, match_id, jaccard FROM scored WHERE rn = 1 ORDER BY new_id
"""


# --------------------------------------------------------------------------
# Incremental-corpus connected components — the state-merge half of the
# production ingest loop that dedup_incremental_pairs starts: the drop
# list handles new-vs-corpus KEEPER decisions, but cluster membership
# must also absorb the batch (a new doc can BRIDGE two existing
# clusters).  Re-running CC over the full edge set per ingest is the
# quadratic-over-time shape this avoids.
def dedup_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge a new batch's near-dup edges into the prior corpus's
    components without re-running CC over the full graph.

    Prior state: components over the existing corpus (doc_id %
    INCR_MOD != 0), i.e. CC over the old-old edge subset — in
    production a persisted (doc_id, cluster_id) table maintained by
    earlier ingests.  The batch contributes batch-internal and
    batch-vs-corpus edges at the same Jaccard threshold.

    Merge by CONTRACTION: every old endpoint of a new edge rewrites to
    its prior component label, then CC runs over the contracted graph
    — labels, batch docs, and previously-isolated old docs — whose
    size tracks the BATCH (plus touched components), not the corpus.
    Prior labels are component-minimum doc_ids, so the contracted
    component minimum equals the full-graph component minimum, and the
    result is PROVABLY identical to a full recompute — the oracle is
    full-graph reachability (same SQL as dedup_cluster_assign).

    The batch-not-corpus cost claim was measured at sf0.1 and its 10×
    replica slice: the contraction merge from a materialized prior ran
    1.29→1.44 s across the 10× corpus step at a 5% batch (1.35→1.70 s
    at 20%) — ordered by batch fraction, near-flat in corpus size —
    while the corpus-bound term is the edge generation (3.5→7.4 s),
    which production amortizes across every consumer of the pair
    graph, and the prior state, which production persists between
    ingests instead of regenerating in-query as this query must.

    Output: (doc_id, cluster_id) for every doc in ≥1 full-graph pair."""
    pairs = _materialize_iter(
        dedup_ngram_jaccard_pairs(spark, sf_dir).select("d1", "d2")
    )
    return _incremental_cc_from_pairs(pairs)


def _incremental_cc_from_pairs(pairs: DataFrame) -> DataFrame:
    """The contraction merge over an explicit (d1, d2) pair DataFrame —
    split out so the bridge fixtures can drive it directly
    (tests/test_llm_pipeline.py::test_incremental_cc_matches_full_recompute).
    doc_id % INCR_MOD == 0 plays the batch; the prior state is
    regenerated in-query (the corpus-bound term)."""
    new1 = F.col("d1") % INCR_MOD == 0
    new2 = F.col("d2") % INCR_MOD == 0
    old_old = pairs.where(~new1 & ~new2)
    new_edges = pairs.where(new1 | new2)

    prior = _materialize_iter(
        _min_label_components(old_old)
    )  # (doc_id, cluster_id) over docs with ≥1 old-old edge

    lab1 = prior.select(
        F.col("doc_id").alias("d1"), F.col("cluster_id").alias("c1")
    )
    lab2 = prior.select(
        F.col("doc_id").alias("d2"), F.col("cluster_id").alias("c2")
    )
    contracted = (
        new_edges.join(lab1, "d1", "left")
        .join(lab2, "d2", "left")
        .select(
            F.coalesce("c1", F.col("d1")).alias("d1"),
            F.coalesce("c2", F.col("d2")).alias("d2"),
        )
        .where(F.col("d1") != F.col("d2"))
        .distinct()
    )
    inc = _min_label_components(contracted).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("comp")
    )

    # old docs: prior label either re-labels through the contracted CC
    # (its component was touched by the batch) or stands unchanged
    old_final = (
        prior.join(inc, prior["cluster_id"] == inc["node"], "left")
        .select(
            prior["doc_id"],
            F.coalesce(inc["comp"], prior["cluster_id"]).alias("cluster_id"),
        )
    )
    # contracted nodes that are NOT prior labels: batch docs and
    # previously-isolated old docs — their label is direct
    direct = inc.join(
        prior.select(F.col("cluster_id").alias("node")).distinct(),
        "node",
        "left_anti",
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
    return old_final.unionByName(direct).orderBy("doc_id")


# identical to DEDUP_CLUSTER_ORACLE by construction: the incremental
# merge must reproduce the full-recompute answer exactly
DEDUP_INCR_CC_ORACLE = DEDUP_CLUSTER_ORACLE


# --------------------------------------------------------------------------
# Line-level boilerplate removal (the C4/RefinedWeb step BETWEEN exact
# and near-dup dedup): a "line" occurring verbatim in many documents is
# navigation/footer boilerplate and is stripped per-document, keeping
# the document itself.  The synthetic corpus has no newlines, so a line
# is a fixed LINE_TOKENS-token chunk — the cross-doc-frequency →
# strip → rebuild shape is identical for real newline-split lines.
LINE_TOKENS = 8
BOILER_MIN_DOCS = 2


def dedup_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate report: total lines, lines shared
    verbatim by >= BOILER_MIN_DOCS distinct documents, and the md5 of
    the document rebuilt from its kept lines in original order.

    Scale shape: explode (doc, pos, line) once; line document-frequency
    is a hash-agg on the line (distinct-doc count); the strip is a join
    back on the line and the rebuild re-aggregates to doc grain with an
    order-restoring sort_array — no window over the corpus, no driver
    state.  At 100 TB the df table is the dedup-able surface: lines
    with df == 1 (the overwhelming majority) can be semi-join-pruned
    before the join-back."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr("filter(split(text, ' '), t -> t <> '')")
    lines = (
        d.select("doc_id", toks.alias("ts"))
        .where(F.size("ts") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"""transform(sequence(0, int(ceil(size(ts) / {LINE_TOKENS}.0)) - 1),
                                  i -> array_join(slice(ts, i * {LINE_TOKENS} + 1, {LINE_TOKENS}), ' '))"""
                )
            ).alias("pos", "line"),
        )
    )
    df_tbl = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("line_df")
    )
    marked = lines.join(df_tbl, "line")
    kept = F.col("line_df") < BOILER_MIN_DOCS
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum((~kept).cast("long")).alias("n_boiler"),
            F.md5(
                F.array_join(
                    F.expr(
                        "transform(sort_array(collect_list(CASE WHEN line_df < "
                        f"{BOILER_MIN_DOCS} THEN struct(pos, line) END)), x -> x.line)"
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_boiler",
            _fr4((F.col("n_lines") - F.col("n_boiler")) / F.col("n_lines")).alias(
                "kept_ratio"
            ),
            "clean_md5",
        )
        .orderBy("doc_id")
    )


DEDUP_BOILER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents
),
lines AS (
  SELECT doc_id, i AS pos,
         array_to_string(ts[i * {LINE_TOKENS} + 1 : i * {LINE_TOKENS} + {LINE_TOKENS}], ' ') AS line
  FROM t, UNNEST(range(CAST(ceil(len(ts) / {LINE_TOKENS}.0) AS BIGINT))) AS u(i)
  WHERE len(ts) > 0
),
dfs AS (
  SELECT line, COUNT(DISTINCT doc_id) AS line_df FROM lines GROUP BY line
),
marked AS (SELECT l.*, d.line_df FROM lines l JOIN dfs d USING (line))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN line_df >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       floor((COUNT(*) - SUM(CASE WHEN line_df >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END))
             * 1.0 / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS kept_ratio,
       md5(COALESCE(string_agg(CASE WHEN line_df < {BOILER_MIN_DOCS} THEN line END,
                               ' ' ORDER BY pos), '')) AS clean_md5
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Blocked edit-distance near-dup join over part names — the fuzzy-match
# tier for SHORT strings (titles, product names) where shingle/minhash
# signals are too coarse.  Scale shape: collapse to DISTINCT values
# with multiplicities FIRST (the exact-dup mass never enters the
# quadratic step), then a self-join blocked on the first token so
# levenshtein only runs within blocks; pair_weight recovers the
# row-level pair count.  For heavy blocks the SHINGLE_DF_CAP pattern
# applies; multi-key blocking (first token ∪ length band) trades recall
# for smaller blocks.
EDITDIST_MAX = 3


def dedup_editdist_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").alias("n"))
        .withColumn("block", F.split("name", " ").getItem(0))
    )
    a = names.select(
        F.col("name").alias("name_a"), F.col("n").alias("n_a"), "block"
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("n").alias("n_b"), "block"
    )
    return (
        a.join(b, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("bigint"))
        .where(F.col("dist") <= EDITDIST_MAX)
        .select(
            "name_a",
            "name_b",
            "dist",
            (F.col("n_a") * F.col("n_b")).alias("pair_weight"),
        )
        .orderBy("name_a", "name_b")
    )


DEDUP_EDITDIST_ORACLE = f"""
WITH names AS (
  SELECT p_name AS name, COUNT(*) AS n, split_part(p_name, ' ', 1) AS block
  FROM part GROUP BY p_name
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
       CAST(a.n * b.n AS BIGINT) AS pair_weight
FROM names a
JOIN names b ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {EDITDIST_MAX}
ORDER BY name_a, name_b
"""


# --------------------------------------------------------------------------
# Sorted-neighborhood method (SNM, Hernández & Stolfo 1995) — the
# third classic candidate-generation strategy in the dedup battery
# next to LSH banding and key blocking: sort the entity keys once and
# compare each with only its SNM_W successors in sort order.  Its
# recall profile COMPLEMENTS dedup_editdist_names' first-word
# blocking: SNM pairs names whose shared sort-prefix keeps them
# adjacent even when an exact blocking key differs, and misses pairs
# that sort far apart — the two-method union is the standard
# multi-pass recipe.
#
# Scale shape: the window is partitioned by the first character of
# the name (alphabetic shards), so per-shard sort state is bounded —
# the spec-pure single global sort would be one executor's problem at
# catalog scale.  Shard-boundary pairs are out of scope BY DESIGN
# (multi-pass SNM with a second sort key is the standard fix);
# candidates come from lead() offsets, so generation is one window
# pass with zero self-joins.
SNM_W = 3


def dedup_sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(name_a, name_b, dist, gap): distinct part-name pairs within
    SNM_W positions in per-shard sort order at Levenshtein distance
    ≤ EDITDIST_MAX; gap = positions apart in the sorted list."""
    names = (
        table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("shard", F.substring("name", 1, 1))
    )
    w = Window.partitionBy("shard").orderBy("name")
    with_leads = names.select(
        "name",
        *[
            F.lead("name", j).over(w).alias(f"nb{j}")
            for j in range(1, SNM_W + 1)
        ],
    )
    pairs = with_leads.select(
        "name",
        F.posexplode(
            F.array(*[F.col(f"nb{j}") for j in range(1, SNM_W + 1)])
        ).alias("g", "name_b"),
    ).where(F.col("name_b").isNotNull())
    return (
        pairs.withColumn(
            "dist", F.levenshtein("name", "name_b").cast("bigint")
        )
        .where(F.col("dist") <= EDITDIST_MAX)
        .select(
            F.col("name").alias("name_a"),
            "name_b",
            "dist",
            (F.col("g") + 1).cast("int").alias("gap"),
        )
        .orderBy("name_a", "name_b")
    )


DEDUP_SNM_ORACLE = f"""
WITH names AS (
  SELECT DISTINCT p_name AS name, substr(p_name, 1, 1) AS shard FROM part
),
leads AS (
  SELECT name,
         {", ".join(
             f"lead(name, {j}) OVER (PARTITION BY shard ORDER BY name) AS nb{j}"
             for j in range(1, SNM_W + 1)
         )}
  FROM names
),
pairs AS (
  SELECT name, g, nb AS name_b
  FROM (SELECT name,
               UNNEST([{", ".join(f"nb{j}" for j in range(1, SNM_W + 1))}]) AS nb,
               UNNEST([{", ".join(str(j - 1) for j in range(1, SNM_W + 1))}]) AS g
        FROM leads)
  WHERE nb IS NOT NULL
)
SELECT name AS name_a, name_b,
       CAST(levenshtein(name, name_b) AS BIGINT) AS dist,
       CAST(g + 1 AS INT) AS gap
FROM pairs
WHERE levenshtein(name, name_b) <= {EDITDIST_MAX}
ORDER BY name_a, name_b
"""


# --------------------------------------------------------------------------
# Cross-document repeated-n-gram share: for each doc, the fraction of
# its distinct 3-gram shingles that appear in at least one OTHER
# document.  The per-doc contamination signal behind substring-level
# dedup (Lee et al. 2022 use suffix arrays; the distributed
# approximation is shingle doc-frequency, which needs only hash-aggs):
# docs with high repeated share are boilerplate-heavy or templated and
# get down-weighted or dropped from training mixes.
#
# Scale plan: explode distinct shingles (hashed to 8-byte longs before
# the explode, same trick as the jaccard index) → ONE shuffle to
# doc-frequency → join df back to the exploded index on the hashed key
# (second shuffle, co-partitioned with the first — AQE reuses the
# exchange) → per-doc hash-agg.  Nothing quadratic: no posting-list
# pair expansion, viral shingles cost one counter each.
#
# Collision bound (same rows-only rationale as MinHash, made explicit):
# Spark counts doc-frequency over xxhash64(shingle) while the oracle
# uses raw shingle strings — a 64-bit collision merges two shingles'
# df and can flip a ≥2-docs verdict.  Expected collisions are
# birthday-bounded: ~n²/2^65 for n distinct shingles — zero at test SF
# (n≈10^4 → P≈10^-12) and still <3% of pairs at n=2^32 (~4·10^9
# distinct shingles).  At larger corpora, widen the key to
# (xxhash64(s), xxhash64(s, seed=1)) — 128 bits — rather than keeping
# raw strings: the shuffle stays 8-16 bytes/key either way, which is
# the point of hashing before the explode.
def dedup_repeated_ngram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document count of distinct 3-gram shingles and the share of
    them appearing in ≥2 documents (rounded to 4dp)."""
    ex = _shingled(spark, sf_dir).select(
        "doc_id",
        F.explode(F.transform("shs", lambda s: F.xxhash64(s))).alias("s"),
    )
    df = ex.groupBy("s").agg(F.count("*").alias("df"))
    return (
        ex.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            # floor(x·1e4+0.5)/1e4, not ROUND — halfway doubles like
            # 3/8=0.37505 round differently across engines (w10 lesson)
            (
                F.floor(
                    F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                    / F.count("*")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("repeated_share"),
        )
        .orderBy("doc_id")
    )


DEDUP_REPEATED_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shs FROM w
),
ex AS (
  SELECT doc_id, UNNEST(shs) AS s FROM sh WHERE len(shs) > 0
),
df AS (
  SELECT s, COUNT(*) AS df FROM ex GROUP BY s
)
SELECT ex.doc_id,
       COUNT(*) AS n_shingles,
       floor(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
             * 10000.0 + 0.5) / 10000.0
         AS repeated_share
FROM ex JOIN df ON ex.s = df.s
GROUP BY ex.doc_id
ORDER BY ex.doc_id
"""


# --------------------------------------------------------------------------
# Per-domain contamination scorecard: the curation dashboard that joins
# the repeated-shingle contamination signal with the quality-filter
# signal at the SOURCE grain — the grain at which corpus decisions are
# actually made (drop a crawl domain, down-weight a dump, keep a
# curated source).  Fuses dedup_repeated_ngram_share's doc-frequency
# machinery with text_quality's token heuristic (VERDICT r5 item 8).
#
# Determinism: every per-source metric derives from INTEGER sums
# (shingle counts, repeated counts, doc counts) with one double
# division floor-rounded at the end — never an average of per-doc
# doubles, whose summation order differs across engines.  The grade
# thresholds compare integers cross-multiplied (sum_rep*2 > sum_sh),
# so no float enters the verdict.  Same xxhash64-vs-raw-shingle
# collision bound as dedup_repeated_ngram_share (documented there).
#
# Scale: identical shape to repeated-share (explode → df hash-agg →
# co-partitioned join → hash-agg) with the final agg on the tiny
# source grain; the quality signal is a pure per-row map on the same
# documents scan.  Nothing quadratic, no Window.
def dq_contamination_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: docs, shingle volume, corpus-level repeated-shingle
    share, docs over 50% repeated shingles, low-quality docs (token
    count < 50), and a clean/watch/quarantine grade."""
    from .textops import _TOKS

    d = table(spark, sf_dir, "documents")
    ex = _shingled(spark, sf_dir).select(
        "doc_id",
        F.explode(F.transform("shs", lambda s: F.xxhash64(s))).alias("s"),
    )
    df = ex.groupBy("s").agg(F.count("*").alias("df"))
    per_doc = (
        ex.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("rep"),
        )
    )
    toks = F.expr(f"size({_TOKS})")
    base = d.select(
        "doc_id", "source", (toks < 50).cast("long").alias("low_q")
    )
    agg = base.join(per_doc, "doc_id", "left").groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce("n_sh", F.lit(0))).alias("sum_sh"),
        F.sum(F.coalesce("rep", F.lit(0))).alias("sum_rep"),
        F.sum(
            F.when(
                F.col("n_sh").isNotNull()
                & (F.col("rep") * 2 >= F.col("n_sh")),
                1,
            ).otherwise(0)
        ).alias("high_contam_docs"),
        F.sum("low_q").alias("low_quality_docs"),
    )
    share = F.when(
        F.col("sum_sh") > 0,
        F.floor(
            F.col("sum_rep") / F.col("sum_sh") * F.lit(10000.0) + F.lit(0.5)
        )
        / F.lit(10000.0),
    )
    grade = (
        F.when(
            (F.col("sum_rep") * 2 > F.col("sum_sh"))
            | (F.col("low_quality_docs") * 2 > F.col("n_docs")),
            "quarantine",
        )
        .when(F.col("sum_rep") * 5 > F.col("sum_sh"), "watch")
        .otherwise("clean")
    )
    return agg.select(
        "source",
        "n_docs",
        "sum_sh",
        share.alias("repeated_share"),
        "high_contam_docs",
        "low_quality_docs",
        grade.alias("grade"),
    ).orderBy("source")


def _contamination_oracle() -> str:
    from .textops import _TOKS_DUCK

    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shs FROM w
),
ex AS (
  SELECT doc_id, UNNEST(shs) AS s FROM sh WHERE len(shs) > 0
),
dfq AS (
  SELECT s, COUNT(*) AS df FROM ex GROUP BY s
),
per_doc AS (
  SELECT ex.doc_id,
         COUNT(*) AS n_sh,
         SUM(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS rep
  FROM ex JOIN dfq ON ex.s = dfq.s
  GROUP BY ex.doc_id
),
base AS (
  SELECT doc_id, source,
         CASE WHEN len({_TOKS_DUCK}) < 50 THEN 1 ELSE 0 END AS low_q
  FROM documents
)
SELECT base.source,
       COUNT(*) AS n_docs,
       CAST(SUM(COALESCE(n_sh, 0)) AS BIGINT) AS sum_sh,
       CASE WHEN SUM(COALESCE(n_sh, 0)) > 0
            THEN floor(SUM(COALESCE(rep, 0)) / SUM(COALESCE(n_sh, 0))
                       * 10000.0 + 0.5) / 10000.0
       END AS repeated_share,
       CAST(SUM(CASE WHEN n_sh IS NOT NULL AND rep * 2 >= n_sh
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_contam_docs,
       CAST(SUM(low_q) AS BIGINT) AS low_quality_docs,
       CASE WHEN SUM(COALESCE(rep, 0)) * 2 > SUM(COALESCE(n_sh, 0))
              OR SUM(low_q) * 2 > COUNT(*) THEN 'quarantine'
            WHEN SUM(COALESCE(rep, 0)) * 5 > SUM(COALESCE(n_sh, 0))
              THEN 'watch'
            ELSE 'clean' END AS grade
FROM base LEFT JOIN per_doc ON base.doc_id = per_doc.doc_id
GROUP BY base.source
ORDER BY base.source
"""


DQ_CONTAMINATION_ORACLE = _contamination_oracle()


# --------------------------------------------------------------------------
# Normalization-aware exact dedup: two documents differing only in
# case, punctuation, or whitespace runs are the same training example.
# Normalize (lower → strip non-alphanumerics → collapse spaces → trim)
# and dedup on the md5 of the normalized form — the standard first
# rung of the web-corpus dedup ladder, between byte-exact and near-dup.
# Same scale shape as dedup_exact_md5: the shuffle carries 16-byte
# digests, the normalization is a pure per-row map.
#
# The regex is POSIX-class-free ([^a-z0-9 ]) so Java regex (Spark) and
# RE2-ish (DuckDB) agree literally.
def _normalize_expr(col: str) -> F.Column:
    lowered = F.lower(F.col(col))
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", " ")
    collapsed = F.regexp_replace(stripped, " +", " ")
    return F.trim(collapsed)


def dedup_normalized_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keeper (min doc_id) per distinct NORMALIZED text, with the
    group size and how many members differ from the keeper byte-wise
    (i.e. dups only normalization catches)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.md5(_normalize_expr("text")).alias("norm_md5")
    )
    return (
        d.groupBy("norm_md5")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("dup_count"),
            (F.count("*") - F.count_distinct("text")).alias("byte_exact_dups"),
        )
        .orderBy("keeper_id")
    )


DEDUP_NORMALIZED_ORACLE = """
WITH norm AS (
  SELECT doc_id, text,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5
  FROM documents
)
SELECT norm_md5,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS dup_count,
       COUNT(*) - COUNT(DISTINCT text) AS byte_exact_dups
FROM norm
GROUP BY norm_md5
ORDER BY keeper_id
"""


# --------------------------------------------------------------------------
# Survivorship funnel — the one-page report a curation run publishes:
# how many documents (and tokens) survive each rung of the dedup
# ladder, raw → byte-exact → normalized-exact → near-dup-clustered.
# Each rung's survivor predicate is a keeper rule already shipped
# above; here they compose into one declarative four-row frame.
# Scale shape: the md5/norm-md5 keeper windows are digest-partitioned
# (bounded groups), the cluster tier joins the CC labels at doc grain,
# and each tier collapses to ONE summary row before the union — the
# output is always exactly 4 rows.
_FUNNEL_TIERS = ["1_raw", "2_exact", "3_normalized", "4_clustered"]


def dedup_survivorship_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tier, n_docs, n_tokens, docs_kept_pct) for the four dedup
    rungs; percentages are vs raw with the floor(x·1e4+0.5)/1e4
    recipe."""
    from .textops import _TOKS

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.expr(f"size({_TOKS})").cast("long").alias("token_count"),
    )
    w_exact = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    w_norm = Window.partitionBy(F.md5(_normalize_expr("text"))).orderBy(
        "doc_id"
    )
    flagged = (
        d.withColumn("rn_exact", F.row_number().over(w_exact))
        .withColumn("rn_norm", F.row_number().over(w_norm))
        .join(
            dedup_cluster_assign(spark, sf_dir).select("doc_id", "cluster_id"),
            "doc_id",
            "left",
        )
    )
    cluster_keeper = F.col("cluster_id").isNull() | (
        F.col("cluster_id") == F.col("doc_id")
    )
    tiers = {
        "1_raw": F.lit(True),
        "2_exact": F.col("rn_exact") == 1,
        "3_normalized": F.col("rn_norm") == 1,
        "4_clustered": (F.col("rn_exact") == 1) & cluster_keeper,
    }
    summary = flagged.agg(
        *[
            F.sum(pred.cast("long")).alias(f"docs_{t}")
            for t, pred in tiers.items()
        ],
        *[
            F.sum(F.when(pred, F.col("token_count")).otherwise(0)).alias(
                f"toks_{t}"
            )
            for t, pred in tiers.items()
        ],
    )
    stack = ", ".join(
        f"'{t}', docs_{t}, toks_{t}" for t in _FUNNEL_TIERS
    )
    return summary.select(
        F.expr(
            f"stack({len(_FUNNEL_TIERS)}, {stack})"
            " AS (tier, n_docs, n_tokens)"
        ),
        F.col("docs_1_raw").alias("raw_docs"),
    ).select(
        "tier",
        "n_docs",
        "n_tokens",
        (
            F.floor(
                F.col("n_docs")
                * 100.0
                / F.when(F.col("raw_docs") > 0, F.col("raw_docs"))
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("docs_kept_pct"),
    ).orderBy("tier")


def _funnel_oracle() -> str:
    from .textops import _TOKS_DUCK

    return f"""
WITH clusters AS ({DEDUP_CLUSTER_ORACLE}),
flagged AS (
  SELECT d.doc_id,
         len({_TOKS_DUCK}) AS token_count,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
           AS rn_exact,
         ROW_NUMBER() OVER (PARTITION BY md5(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g'))) ORDER BY doc_id) AS rn_norm,
         c.cluster_id
  FROM documents d LEFT JOIN clusters c USING (doc_id)
),
summary AS (
  SELECT
    COUNT(*) AS docs_raw,
    SUM(CASE WHEN rn_exact = 1 THEN 1 ELSE 0 END) AS docs_exact,
    SUM(CASE WHEN rn_norm = 1 THEN 1 ELSE 0 END) AS docs_norm,
    SUM(CASE WHEN rn_exact = 1
              AND (cluster_id IS NULL OR cluster_id = doc_id)
         THEN 1 ELSE 0 END) AS docs_clustered,
    SUM(token_count) AS toks_raw,
    SUM(CASE WHEN rn_exact = 1 THEN token_count ELSE 0 END) AS toks_exact,
    SUM(CASE WHEN rn_norm = 1 THEN token_count ELSE 0 END) AS toks_norm,
    SUM(CASE WHEN rn_exact = 1
              AND (cluster_id IS NULL OR cluster_id = doc_id)
         THEN token_count ELSE 0 END) AS toks_clustered
  FROM flagged
),
tiers AS (
  SELECT '1_raw' AS tier, docs_raw AS n_docs, toks_raw AS n_tokens,
         docs_raw FROM summary
  UNION ALL
  SELECT '2_exact', docs_exact, toks_exact, docs_raw FROM summary
  UNION ALL
  SELECT '3_normalized', docs_norm, toks_norm, docs_raw FROM summary
  UNION ALL
  SELECT '4_clustered', docs_clustered, toks_clustered, docs_raw
  FROM summary
)
SELECT tier, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN docs_raw > 0 THEN
         floor(n_docs * 100.0 / docs_raw * 10000.0 + 0.5) / 10000.0
       END AS docs_kept_pct
FROM tiers
ORDER BY tier
"""


DEDUP_FUNNEL_ORACLE = _funnel_oracle()


# --------------------------------------------------------------------------
# SimHash Hamming retrieval via block combinations (Manku/Jain/Sarma,
# WWW'07 — the web-scale simhash dedup design): split the 64-bit
# signature into 6 blocks and key C(6,3) = 20 tables on each 3-block
# combination (~32-bit keys).  A pair within Hamming distance 3 flips
# bits in at most 3 blocks, so SOME 3-block combination is untouched —
# the ≤3 guarantee of naive 4×16 banding is preserved — while the key
# space grows from 2^16 to ~2^32: the quadratic random-collision term
# (n²·tables/keyspace) that makes 16-bit bands blow up past ~10^5 docs
# becomes negligible until ~10^9 docs per partition-disjoint shard.
# Round 7's 10× scale probe caught exactly this: the 16-bit form ran
# at ratio 8.6 (collision-quadratic); the block-combination form is
# the shape that survives 100 TB.  The r8 probe decomposition
# (BENCH_DETAIL.json::scale_probe.simhash_stages) proved the
# remaining ~8× time ratio at factor 10 was OUTPUT-driven, not
# shape-driven: verified pairs grow 17.2× (506k → 8.7M — the replica
# construction multiplies true near-dup pairs super-linearly) while
# per-pair cost FALLS with scale.  Round 9 acts on that finding twice:
# pair-emit collapses identical signatures before the band join (the
# quadratic replica mass moves from the verify stage to pure output
# materialization; warmed 10× ratio 9.59 → 2.24), and
# dedup_simhash_clusters emits (doc, component) rows instead of pairs
# — output linear in corpus size — for the dense-replica regime where
# the pair mass itself is the cost.
#
# Zero signatures (token-less docs) are excluded: every empty doc
# shares the all-zero signature and its bucket would go quadratic —
# same hazard class the Jaccard tier's df cap guards.
_SIMHASH_BLOCK_OFFS = (0, 11, 22, 33, 44, 54)  # 11,11,11,11,10,10 bits
_SIMHASH_BLOCK_BITS = (11, 11, 11, 11, 10, 10)
_SIMHASH_COMBOS = (
    (0, 1, 2), (0, 1, 3), (0, 1, 4), (0, 1, 5), (0, 2, 3), (0, 2, 4),
    (0, 2, 5), (0, 3, 4), (0, 3, 5), (0, 4, 5), (1, 2, 3), (1, 2, 4),
    (1, 2, 5), (1, 3, 4), (1, 3, 5), (1, 4, 5), (2, 3, 4), (2, 3, 5),
    (2, 4, 5), (3, 4, 5),
)
SIMHASH_HAM_MAX = 8


def _simhash_block_sql(i: int, col: str = "simhash") -> str:
    off, bits = _SIMHASH_BLOCK_OFFS[i], _SIMHASH_BLOCK_BITS[i]
    return f"(({col} >> {off}) & {(1 << bits) - 1})"


def _simhash_combo_key_sql(combo: tuple[int, int, int], col: str = "simhash") -> str:
    """Pack a 3-block combination into one BIGINT key: each block value
    is < 2^11, so fixed 11-bit shifts concatenate them collision-free."""
    a, b, c = (_simhash_block_sql(i, col) for i in combo)
    return f"((({a} * 2048) + {b}) * 2048 + {c})"


def _simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-zero signatures collapsed to identical-signature groups:
    (simhash, sorted doc list).  Replicas of one document share a
    signature, so every doc-granular stage downstream of this collapse
    runs at DISTINCT-SIGNATURE cost instead of doc cost — the r8 scale
    probe showed candidate-verify over doc pairs growing 17× at 10×
    data purely from replica groups.  The member arrays are bounded by
    the per-document replica count (exact dedup runs before simhash in
    the survivorship funnel, so pathological 10^6-replica groups are
    collapsed upstream at real scale)."""
    sig = dedup_simhash_signatures(spark, sf_dir).where(
        F.col("simhash") != 0
    )
    return sig.groupBy("simhash").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs")
    )


def _simhash_sig_pairs(groups: DataFrame) -> DataFrame:
    """Verified signature pairs (s1 < s2, hamming ≤ SIMHASH_HAM_MAX)
    from the 20 block-combination tables over DISTINCT signatures —
    the band join, the distinct, and the bit_count verify all run at
    signature-pair granularity."""
    bands = groups.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.expr(_simhash_combo_key_sql(combo)).alias("val"),
                    )
                    for t, combo in enumerate(_SIMHASH_COMBOS)
                ]
            )
        ).alias("bv"),
    ).select(
        "simhash",
        F.col("bv.tbl").alias("tbl"),
        F.col("bv.val").alias("val"),
    )
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
        .withColumn("hamming", F.expr("bit_count(s1 ^ s2)"))
        .where(F.col("hamming") <= SIMHASH_HAM_MAX)
    )


def dedup_simhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs from the 20 block-combination tables,
    verified to Hamming distance ≤ SIMHASH_HAM_MAX (d1 < d2, each pair
    once; every pair at distance ≤ 3 is guaranteed caught).

    r9 shape (verdict item 4): identical signatures collapse to one
    group BEFORE the band join, so the join, the candidate distinct,
    and the Hamming verify run over signature pairs; doc pairs are
    materialized only at the output edge — same-signature groups
    expand to hamming-0 cliques directly, cross-signature verified
    pairs expand by member-list cross product.  Output is UNCHANGED
    (each doc has exactly one signature, so an unordered doc pair maps
    to exactly one unordered signature pair); what the probe charges
    as candidate-verify cost becomes pure output materialization —
    the genuinely quadratic replica pair-mass.  The cluster-emit
    variant (dedup_simhash_clusters) is the scale path when pair mass
    itself is the problem.

    Probe-ratio declaration (2026-08-16, r13 — r12 verdict item 3):
    the 10× scale-probe ratio crossed 4 (4.08 committed r12) and is
    declared INTRINSIC: the recorded simhash_stages decomposition
    shows output pairs growing 506k→8.7M (17×) under replication —
    replica token-suffixing preserves word-frequency structure, so
    replicas of distinct docs still collide in Hamming bands and are
    true near-dups under the simhash metric — while the signature
    stage stayed flat (1.28→1.73 s) and candidate+verify grew only
    3.4× against 17× pairs (sublinear per pair).  The ratio measures
    the replica corpus genuinely containing ~17× the near-dup pairs,
    not a plan defect; at real corpus growth (new content, not
    replicas) pair mass tracks true duplication."""
    groups = _materialize_iter(_simhash_groups(spark, sf_dir))
    # materialize once: groups feeds the same-signature expansion and
    # BOTH sides of the cross-signature member join — without it each
    # consumer re-executes the pandas-UDF signature scan.
    same = (
        groups.where(F.size("docs") >= 2)
        .select(F.explode("docs").alias("d1"), "docs")
        .select("d1", F.explode("docs").alias("d2"))
        .where(F.col("d1") < F.col("d2"))
        .withColumn("hamming", F.lit(0))  # identical sigs: distance 0
    )
    g1 = groups.select(F.col("simhash").alias("s1"), F.col("docs").alias("docs1"))
    g2 = groups.select(F.col("simhash").alias("s2"), F.col("docs").alias("docs2"))
    cross = (
        _simhash_sig_pairs(groups)
        .join(g1, "s1")
        .join(g2, "s2")
        .select(F.explode("docs1").alias("da"), "docs2", "hamming")
        .select("da", F.explode("docs2").alias("db"), "hamming")
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
            "hamming",
        )
    )
    return same.unionByName(cross).orderBy("d1", "d2")


def _simhash_pairs_oracle() -> str:
    combo_rows = ",\n    ".join(
        f"({t}, {_simhash_combo_key_sql(combo)})"
        for t, combo in enumerate(_SIMHASH_COMBOS)
    )
    return f"""
WITH sigs AS ({DEDUP_SIMHASH_ORACLE.replace("ORDER BY d.doc_id", "")}),
nz AS (SELECT doc_id, simhash FROM sigs WHERE simhash <> 0),
bands AS (
  SELECT doc_id, simhash, t.* FROM nz,
    LATERAL (VALUES
    {combo_rows}
    ) AS t(tbl, val)
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         a.simhash AS s1, b.simhash AS s2
  FROM bands a JOIN bands b
    ON a.tbl = b.tbl AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(s1, s2)) <= {SIMHASH_HAM_MAX}
ORDER BY d1, d2
"""


DEDUP_SIMHASH_PAIRS_ORACLE = _simhash_pairs_oracle()


def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-emit variant of the simhash near-dup surface — the
    dense-replica scale path (r8 verdict item 4).  The r8 probe proved
    pair-emit's superlinear growth is OUTPUT mass: k replicas of one
    document emit C(k,2) hamming-0 pairs, 17× more verified pairs at
    10× data.  This variant emits ONE row per near-dup document
    (doc_id, cluster_id = min doc_id reachable through hamming ≤
    SIMHASH_HAM_MAX pairs) — output LINEAR in corpus size.

    Same partition as pair-emit + CC, computed at signature cost:
    docs sharing a signature form a hamming-0 clique, so connected
    components over the SIGNATURE graph (nodes = distinct signatures,
    edges = verified signature pairs) expanded by group membership
    yield identical components.  A doc qualifies iff it is in ≥1 pair:
    its signature group has ≥2 members or its signature has a verified
    cross-signature edge.  Oracle: recursive-CTE reachability over the
    signature graph."""
    groups = _materialize_iter(_simhash_groups(spark, sf_dir))
    sig_edges = _simhash_sig_pairs(groups).select(
        F.col("s1").alias("d1"), F.col("s2").alias("d2")
    )
    lab = _min_label_components(sig_edges)  # (doc_id=sig, cluster_id=comp sig)
    sig_lab = (
        groups.join(lab, groups["simhash"] == lab["doc_id"], "left")
        .where((F.size("docs") >= 2) | lab["cluster_id"].isNotNull())
        .select(
            "docs",
            F.coalesce(lab["cluster_id"], groups["simhash"]).alias("comp"),
            F.array_min("docs").alias("min_doc"),
        )
    )
    cluster_ids = sig_lab.groupBy("comp").agg(
        F.min("min_doc").alias("cluster_id")
    )
    return (
        sig_lab.join(cluster_ids, "comp")
        .select(F.explode("docs").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )


def _simhash_clusters_oracle() -> str:
    combo_rows = ",\n    ".join(
        f"({t}, {_simhash_combo_key_sql(combo)})"
        for t, combo in enumerate(_SIMHASH_COMBOS)
    )
    return f"""
WITH RECURSIVE
sigs AS ({DEDUP_SIMHASH_ORACLE.replace("ORDER BY d.doc_id", "")}),
nz AS (SELECT doc_id, simhash FROM sigs WHERE simhash <> 0),
grp AS (
  SELECT simhash, MIN(doc_id) AS min_doc, COUNT(*) AS n
  FROM nz GROUP BY simhash
),
bands AS (
  SELECT simhash, t.* FROM grp,
    LATERAL (VALUES
    {combo_rows}
    ) AS t(tbl, val)
),
sp AS (
  SELECT DISTINCT a.simhash AS s1, b.simhash AS s2
  FROM bands a JOIN bands b
    ON a.tbl = b.tbl AND a.val = b.val AND a.simhash < b.simhash
),
sp_ok AS (SELECT s1, s2 FROM sp WHERE bit_count(xor(s1, s2)) <= {SIMHASH_HAM_MAX}),
edges AS (
  SELECT s1 AS a, s2 AS b FROM sp_ok
  UNION
  SELECT s2, s1 FROM sp_ok
),
walk (node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT w.node, e.b FROM walk w JOIN edges e ON w.r = e.a
),
complab AS (
  SELECT node AS simhash, LEAST(node, MIN(r)) AS comp
  FROM walk GROUP BY node
),
qual AS (
  SELECT g.simhash, g.min_doc, COALESCE(c.comp, g.simhash) AS comp
  FROM grp g LEFT JOIN complab c ON g.simhash = c.simhash
  WHERE g.n >= 2 OR c.comp IS NOT NULL
),
cmin AS (SELECT comp, MIN(min_doc) AS cluster_id FROM qual GROUP BY comp)
SELECT nz.doc_id, cmin.cluster_id
FROM nz
JOIN qual ON nz.simhash = qual.simhash
JOIN cmin ON qual.comp = cmin.comp
ORDER BY nz.doc_id
"""


DEDUP_SIMHASH_CLUSTERS_ORACLE = _simhash_clusters_oracle()


# --------------------------------------------------------------------------
# Bloom-filter decontamination pre-filter — the broadcast-sketch stage
# a 100 TB decontamination run puts IN FRONT of the exact shingle join:
# the benchmark's shingle set compresses to an m-bit bloom bitmap that
# broadcasts everywhere, corpus shingles probe it map-side, and only
# bloom-positive shingles proceed to the (shuffling) exact check.
# This operator audits that sketch's quality on the live corpus:
# exact true-member count vs bloom hits vs false positives.
#
# The bloom is built from pure md5 arithmetic (k positions per key =
# md5(i||'_'||shingle) mod m), so both engines reproduce the identical
# bitmap bit-for-bit and the FPR report is exact, not probabilistic.
BLOOM_M = 2048
BLOOM_K = 3


def _bloom_pos(i: int):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.lit(i), F.col("s"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % BLOOM_M
    )


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of the benchmark-shingle bloom: distinct corpus
    shingles probed, true benchmark members, bits set, bloom hits,
    false positives, and the realized false-positive rate among
    non-members."""
    sh = _shingled(spark, sf_dir)
    is_bench = F.col("doc_id") % DECON_MOD == 0
    # ONE corpus explode: fold benchmark membership into a per-shingle
    # flag (member = the shingle occurs in >= 1 bench doc) instead of
    # materializing separate corpus/bench relations.  The first cut
    # built `bench` as a FILTERED second explode and consumed it twice
    # (bit construction + the member join), so the corpus shingle
    # subtree executed three times — the doc-filter sat below the
    # distinct, so no exchange was reusable (the split-contamination
    # lesson).  Here both downstream consumers (bits, probes) sit
    # above the SAME explode->groupBy aggregate, and the bits branch
    # filters on the AGGREGATED member flag — not a grouping key, so
    # Catalyst cannot push it below the aggregate and the shuffle is
    # shared.  The member join disappears entirely: membership is
    # already a column.
    marks = (
        sh.select(
            F.explode("shs").alias("s"), is_bench.cast("long").alias("m")
        )
        .groupBy("s")
        .agg(F.max("m").alias("member"))
    )
    kpos = F.array(*[_bloom_pos(i) for i in range(BLOOM_K)])
    bits = (
        marks.where(F.col("member") == 1)
        .select(F.explode(kpos).alias("pos"))
        .distinct()
        .withColumn("b", F.lit(1))
    )
    probe_pos = marks.select(
        "s", "member", F.explode(kpos).alias("pos")
    ).distinct()
    flagged = (
        probe_pos.join(F.broadcast(bits), "pos", "left")
        .groupBy("s", "member")
        .agg(F.count("*").alias("np"), F.count("b").alias("matched"))
        .select(
            "member", (F.col("np") == F.col("matched")).alias("bloom_hit")
        )
    )
    # bits_set rides along as a broadcast 1-row frame — no driver
    # action at plan-build time (nothing runs until the caller's action)
    nbits = bits.agg(F.count("*").alias("bits_set"))
    fp = F.sum(
        (F.col("bloom_hit") & (F.col("member") == 0)).cast("long")
    )
    nonmembers = F.count("*") - F.sum("member")
    return flagged.crossJoin(F.broadcast(nbits)).agg(
        F.count("*").alias("n_probes"),
        F.sum("member").alias("n_members"),
        F.min("bits_set").cast("long").alias("bits_set"),
        F.sum(F.col("bloom_hit").cast("long")).alias("bloom_hits"),
        fp.alias("false_positives"),
        _fr4(fp / nonmembers).alias("fpr"),
    )


def _bloom_oracle() -> str:
    def pos(i: int, key: str = "s") -> str:
        return (
            f"CAST(concat('0x', substring(md5({i} || '_' || {key}), 1, 8)) "
            f"AS BIGINT) % {BLOOM_M}"
        )

    poslist = ", ".join(pos(i) for i in range(BLOOM_K))
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shs
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
nonempty AS (SELECT * FROM sh WHERE len(shs) >= 1),
corpus AS (SELECT DISTINCT UNNEST(shs) AS s FROM nonempty),
bench AS (
  SELECT DISTINCT UNNEST(shs) AS s FROM nonempty
  WHERE doc_id % {DECON_MOD} = 0
),
bits AS (
  SELECT DISTINCT UNNEST([{poslist}]) AS pos FROM bench
),
probe_pos AS (
  SELECT DISTINCT s, UNNEST([{poslist}]) AS pos FROM corpus
),
per_key AS (
  SELECT p.s, COUNT(*) = COUNT(bits.pos) AS bloom_hit
  FROM probe_pos p LEFT JOIN bits ON bits.pos = p.pos
  GROUP BY p.s
),
flagged AS (
  SELECT k.s, k.bloom_hit, b.s IS NOT NULL AS member
  FROM per_key k LEFT JOIN bench b ON b.s = k.s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
       CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS bloom_hits,
       CAST(SUM(CASE WHEN bloom_hit AND NOT member THEN 1 ELSE 0 END)
            AS BIGINT) AS false_positives,
       floor(SUM(CASE WHEN bloom_hit AND NOT member THEN 1 ELSE 0 END) * 1.0
             / SUM(CASE WHEN NOT member THEN 1 ELSE 0 END)
             * 10000.0 + 0.5) / 10000.0 AS fpr
FROM flagged
"""


DEDUP_BLOOM_ORACLE = _bloom_oracle()


# --------------------------------------------------------------------------
def dq_duplicate_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication audit: docs, distinct texts (by
    md5 digest — the same key the exact dedup tier groups on), the
    redundant doc count, and the duplicate rate.  The per-source DQ
    signal a crawl pipeline watches to catch a feed that started
    re-emitting old content.

    Scale: one hash-agg on (source, digest) then a rollup to
    |sources| rows — two shuffles, both combiner-backed."""
    d = table(spark, sf_dir, "documents")
    per = (
        d.groupBy("source", F.md5("text").alias("digest"))
        .agg(F.count("*").alias("copies"))
        .groupBy("source")
        .agg(
            F.sum("copies").alias("n_docs"),
            F.count("*").alias("n_distinct"),
            (F.sum("copies") - F.count("*")).alias("dup_docs"),
        )
    )
    return per.select(
        "source",
        "n_docs",
        "n_distinct",
        "dup_docs",
        _fr4(F.col("dup_docs") / F.col("n_docs")).alias("dup_rate"),
    ).orderBy("source")


DQ_DUP_RATE_ORACLE = """
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS copies
  FROM documents GROUP BY source, md5(text)
),
agg AS (
  SELECT source,
         CAST(SUM(copies) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(copies) - COUNT(*) AS BIGINT) AS dup_docs
  FROM per GROUP BY source
)
SELECT source, n_docs, n_distinct, dup_docs,
       floor(dup_docs * 1.0 / n_docs * 10000.0 + 0.5) / 10000.0 AS dup_rate
FROM agg
ORDER BY source
"""


# --------------------------------------------------------------------------
# Exact-substring duplicate SPANS (the cut-list flavor of exact-substring
# dedup, after Lee et al. 2021, "Deduplicating Training Data Makes
# Language Models Better": instead of dropping whole documents, find the
# maximal token intervals whose content also occurs elsewhere in the
# corpus, so a pipeline can CUT just those bytes).  Reference parity
# note: the reference corpus tooling has no substring-granular dedup at
# all (spark_eda.py is whole-record); this is part of the
# training-data-pipeline battery.
#
# Shape (all built-in ops, linear, no pairwise joins):
#   1. seeds: every width-SS_W token window, keyed by the window
#      text's md5 as two 60-bit BIGINTs (the shuffle carries a 16-byte
#      key, not the window string);
#   2. duplicated grams: groupBy(gram) HAVING count >= 2 — within-doc
#      repeats count, matching the suffix-array semantics where ANY
#      second occurrence makes the bytes redundant;
#   3. flag occurrences of duplicated grams (one equi-join on the
#      16-byte key — postings are never paired with each other, so a
#      boilerplate gram with a million occurrences costs a million
#      FLAG rows, not a trillion pairs);
#   4. gaps-and-islands per doc: a seed at pos covers [pos, pos+W-1];
#      merge overlap-or-adjacent seeds (pos − prev ≤ W) with one
#      lag + running-sum window partitioned BY DOC (state bounded by
#      document length, never corpus size) into maximal spans.
# Any repeated substring of ≥ W tokens necessarily repeats one of its
# width-W windows, so spans cover every such region; sub-W repeats are
# below the resolution floor by design (same argument as
# text_repeated_spans' window width).
#
# Gram-key width (r12, ADVICE): the key is the md5 carried as TWO
# 60-bit BIGINTs (hex chars 1-15 and 17-31 — 15 chars each keeps conv()
# inside signed-long range, the established mulmod-family idiom).  At
# 120 bits, P(any collision) ≈ n²/2^121 ≈ 7·10^-10 even at 10^9 grams,
# so the 100 TB run needs no further widening; the r11 single-60-bit
# key had acknowledged ~0.5 collision probability at that scale, and a
# collision here MANUFACTURES a false duplicated span whose bytes
# dedup_cut_spans_emit then cuts — silent data loss, hence the width.
# The shuffle cost is 16 bytes/gram instead of 8; the plan is
# unchanged (same groupBy/join, now on the composite key).
SS_W = 8


def _ss_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = "filter(split(text, ' '), t -> t <> '')"
    # ts let-binding (see dedup_cdc_chunks): referencing {toks} inside
    # the positional lambda would re-run split(text) per gram position
    grams = (
        f"transform(array({toks}), ts ->"
        f" CASE WHEN size(ts) >= {SS_W} THEN"
        f"   transform(sequence(1, size(ts) - {SS_W} + 1),"
        f"             i -> array_join(slice(ts, i, {SS_W}), ' '))"
        f" ELSE array() END)[0]"
    )
    return (
        d.select("doc_id", F.posexplode(F.expr(grams)).alias("pos", "gram"))
        .withColumn("h", F.md5("gram"))
        .select(
            "doc_id",
            "pos",
            F.conv(F.substring("h", 1, 15), 16, 10)
            .cast("long")
            .alias("g1"),
            F.conv(F.substring("h", 17, 15), 16, 10)
            .cast("long")
            .alias("g2"),
        )
    )


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token intervals per document: (doc_id,
    span_start, span_end, span_tokens, n_seeds), ordered for stable
    comparison.  span_* are 0-based token positions, end-inclusive."""
    occ = _ss_seeds(spark, sf_dir)
    dupg = (
        occ.groupBy("g1", "g2")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
        .select("g1", "g2")
    )
    seeds = occ.join(dupg, ["g1", "g2"]).select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = seeds.withColumn(
        "f",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > SS_W),
            1,
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + SS_W - 1).alias("span_end"),
            F.count("*").alias("n_seeds"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
            "n_seeds",
        )
        .orderBy("doc_id", "span_start")
    )


#: shared DuckDB CTE body ending in `sp` (doc_id, island, span_start,
#: span_end, n_seeds) — the oracle twin of the span derivation, used
#: by both the span listing and the cut-applied corpus emit.
_SS_SPANS_CTE = f"""t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
g AS (
  SELECT doc_id, u.pos AS pos,
         CAST('0x' || substr(md5(u.gr), 1, 15) AS BIGINT) AS gg1,
         CAST('0x' || substr(md5(u.gr), 17, 15) AS BIGINT) AS gg2
  FROM (SELECT doc_id,
               UNNEST(list_transform(range(1, len(ts) - {SS_W} + 2),
                 i -> struct_pack(pos := i - 1,
                                  gr := array_to_string(
                                    list_slice(ts, i, i + {SS_W} - 1), ' ')))) AS u
        FROM t WHERE len(ts) >= {SS_W})
),
dup AS (SELECT gg1, gg2 FROM g GROUP BY gg1, gg2 HAVING COUNT(*) >= 2),
seeds AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gg1, gg2)),
fl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos - lag(pos) OVER w > {SS_W} THEN 1 ELSE 0 END AS f
  FROM seeds WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos,
         SUM(f) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
),
sp AS (
  SELECT doc_id, island,
         MIN(pos) AS span_start,
         MAX(pos) + {SS_W} - 1 AS span_end,
         CAST(COUNT(*) AS BIGINT) AS n_seeds
  FROM isl GROUP BY doc_id, island
)"""

DEDUP_SUBSTRING_SPANS_ORACLE = f"""
WITH {_SS_SPANS_CTE}
SELECT doc_id,
       CAST(span_start AS INT) AS span_start,
       CAST(span_end AS INT) AS span_end,
       CAST(span_end - span_start + 1 AS INT) AS span_tokens,
       n_seeds
FROM sp
ORDER BY doc_id, span_start
"""


def dedup_cut_spans_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the exact-substring cut list: re-emit EVERY document with
    its duplicated spans removed — (doc_id, orig_tokens, kept_tokens,
    removed_tokens, clean_text).  The actionable consumer of
    dedup_substring_spans (Lee et al. 2021 cut semantics: delete the
    bytes that occur elsewhere, keep the document).

    Shape: the span table collapses to one small struct-array row per
    affected doc (spans per doc are bounded by doc length / W), LEFT
    joins back to the corpus on doc_id, and the cut itself is pure
    per-doc array work under the ts let-binding — positions surviving
    every span interval, re-joined to text.  No token-grain explode,
    no window over the corpus."""
    spans = dedup_substring_spans(spark, sf_dir)
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sps")
    )
    d = table(spark, sf_dir, "documents")
    toks = "filter(split(text, ' '), t -> t <> '')"
    out = f"""
    transform(array({toks}), ts -> CASE WHEN size(ts) = 0 THEN
      struct(0 AS orig_tokens, 0 AS kept_tokens, CAST('' AS STRING) AS clean_text)
    ELSE
      struct(
        size(ts) AS orig_tokens,
        size(filter(sequence(0, size(ts) - 1),
             p -> NOT exists(sps, s -> p >= s.span_start AND p <= s.span_end)))
          AS kept_tokens,
        concat_ws(' ',
          transform(filter(sequence(0, size(ts) - 1),
               p -> NOT exists(sps, s -> p >= s.span_start AND p <= s.span_end)),
            p -> element_at(ts, p + 1))) AS clean_text)
    END)[0]
    """
    joined = d.join(sp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(
            F.col("sps"),
            F.expr("CAST(array() AS array<struct<span_start:int,span_end:int>>)"),
        ).alias("sps"),
        "text",
    )
    return (
        joined.select("doc_id", F.expr(out).alias("o"))
        .select(
            "doc_id",
            "o.orig_tokens",
            "o.kept_tokens",
            (F.col("o.orig_tokens") - F.col("o.kept_tokens")).alias(
                "removed_tokens"
            ),
            "o.clean_text",
        )
        .orderBy("doc_id")
    )


DEDUP_CUT_SPANS_EMIT_ORACLE = f"""
WITH {_SS_SPANS_CTE},
spl AS (
  SELECT doc_id,
         list(struct_pack(span_start := span_start,
                          span_end := span_end)) AS sps
  FROM sp GROUP BY doc_id
),
corpus AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
j AS (
  SELECT corpus.doc_id, ts, COALESCE(sps, []) AS sps
  FROM corpus LEFT JOIN spl USING (doc_id)
),
kept AS (
  SELECT doc_id, ts, sps,
         list_filter(range(0, len(ts)),
           p -> len(list_filter(sps,
                  s -> p >= s.span_start AND p <= s.span_end)) = 0) AS ks
  FROM j
)
SELECT doc_id,
       CAST(len(ts) AS INT) AS orig_tokens,
       CAST(len(ks) AS INT) AS kept_tokens,
       CAST(len(ts) - len(ks) AS INT) AS removed_tokens,
       COALESCE(array_to_string(list_transform(ks, p -> ts[p + 1]), ' '), '')
         AS clean_text
FROM kept
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Content-defined chunking (CDC — the LBFS/FastCDC storage-dedup
# primitive): cut every document into variable-size chunks at
# content-determined boundaries, so an insertion shifts at most one
# chunk instead of re-aligning every fixed-size block; identical
# passages then produce identical chunks wherever they sit.  The
# corpus-level report answers the storage question exact dedup can't:
# how many tokens would chunk-grain dedup store vs. the raw corpus.
#
# Boundary rule: cut AFTER token p when the hash of the width-CDC_K
# gram ending at p satisfies h ≡ 0 (mod CDC_MOD) — expected chunk
# length CDC_MOD tokens.  The hash is the same top-60-bit md5 both
# engines parse exactly, so boundaries (and therefore every chunk
# hash) are engine-identical.  All per-doc array work; chunk rows are
# the only explode, and the dedup shuffle carries 16-byte chunk
# digests.  Short docs (< CDC_K tokens) have no grams, hence no cuts
# — the whole doc is one chunk.
CDC_K = 4
CDC_MOD = 32


def _cdc_chunks_expr() -> str:
    """The per-row chunk derivation over a `text` column — array of
    struct(chunk_hash, chunk_len).  Module-level so the
    shift-robustness property test (tests/test_properties.py) can
    apply the IDENTICAL expression to synthetic documents; the text
    is byte-for-byte what dedup_cdc_chunks explodes."""
    toks = "filter(split(text, ' '), t -> t <> '')"
    gh = (
        f"CAST(conv(substring(md5(concat_ws(' ',"
        f" slice(ts, p - {CDC_K} + 2, {CDC_K}))), 1, 15), 16, 10)"
        f" AS BIGINT)"
    )
    return f"""
    flatten(transform(array({toks}), ts ->
      flatten(transform(
        array(CASE WHEN size(ts) >= {CDC_K} THEN
                filter(sequence({CDC_K} - 1, size(ts) - 1),
                       p -> p < size(ts) - 1 AND {gh} % {CDC_MOD} = 0)
              ELSE array() END),
        cuts ->
          transform(
            zip_with(concat(array(-1), cuts),
                     concat(cuts, array(size(ts) - 1)),
                     (lo, hi) -> struct(lo + 1 AS cs, hi AS ce)),
            c -> struct(
              md5(concat_ws(' ',
                    slice(ts, c.cs + 1, c.ce - c.cs + 1))) AS chunk_hash,
              c.ce - c.cs + 1 AS chunk_len))))))
    """


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus storage-dedup report over CDC chunks:
    (n_chunks, n_distinct_chunks, total_tokens, stored_tokens,
    saved_token_share, mean_chunk_tokens)."""
    d = table(spark, sf_dir, "documents")
    toks = "filter(split(text, ' '), t -> t <> '')"
    # let-binding idiom: transform(array(<expr>), v -> body) evaluates
    # <expr> ONCE per row and binds it as the lambda variable, where
    # referencing <expr> inside a positional lambda would re-evaluate
    # split(text) per ELEMENT — the O(tokens²) projection-collapse
    # hazard _SHINGLES documents.  Binding ts (the token array) and
    # cuts (the boundary positions, themselves one md5 per position)
    # this way measured 6.9 s → 1.1 s at sf0.1 (best of 3, local[32]).
    chunk_rows = (
        d.where(F.expr(f"size({toks}) > 0"))
        .select(F.explode(F.expr(_cdc_chunks_expr())).alias("c"))
        .select("c.chunk_hash", "c.chunk_len")
    )
    per_chunk = chunk_rows.groupBy("chunk_hash").agg(
        F.count("*").alias("cnt"), F.first("chunk_len").alias("len")
    )
    agg = per_chunk.agg(
        F.sum("cnt").alias("n_chunks"),
        F.count("*").alias("n_distinct_chunks"),
        F.sum(F.col("cnt") * F.col("len")).alias("total_tokens"),
        F.sum("len").alias("stored_tokens"),
    )
    tot = F.col("total_tokens")
    return agg.select(
        "n_chunks",
        "n_distinct_chunks",
        "total_tokens",
        "stored_tokens",
        F.when(
            tot > 0, _fr4((tot - F.col("stored_tokens")) / tot)
        ).alias("saved_token_share"),
        F.when(tot > 0, _fr4(tot / F.col("n_chunks"))).alias(
            "mean_chunk_tokens"
        ),
    )


def _cdc_oracle() -> str:
    """DuckDB twin — identical boundary predicate and chunk hashing
    over 1-based list positions (p in the lambda is the 0-based end
    position, matching the Spark text)."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    gh = (
        f"CAST('0x' || substr(md5(array_to_string("
        f"list_slice(ts, p - {CDC_K} + 2, p + 1), ' ')), 1, 15)"
        f" AS BIGINT)"
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS ts FROM documents WHERE len({toks}) > 0),
cuts AS (
  SELECT doc_id, ts,
         list_filter(range({CDC_K} - 1, len(ts)),
           p -> p < len(ts) - 1 AND {gh} % {CDC_MOD} = 0) AS cs
  FROM t
),
chunks AS (
  SELECT md5(array_to_string(
           list_slice(ts, u.lo + 2, u.hi + 1), ' ')) AS chunk_hash,
         u.hi - u.lo AS chunk_len
  FROM (SELECT doc_id, ts,
               UNNEST(list_transform(range(1, len(cs) + 2),
                 i -> struct_pack(
                   lo := CASE WHEN i = 1 THEN -1 ELSE cs[i - 1] END,
                   hi := CASE WHEN i = len(cs) + 1
                         THEN len(ts) - 1 ELSE cs[i] END))) AS u
        FROM cuts)
),
per_chunk AS (
  SELECT chunk_hash, COUNT(*) AS cnt, ANY_VALUE(chunk_len) AS len
  FROM chunks GROUP BY chunk_hash
),
agg AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
         COUNT(*) AS n_distinct_chunks,
         CAST(SUM(cnt * len) AS BIGINT) AS total_tokens,
         CAST(SUM(len) AS BIGINT) AS stored_tokens
  FROM per_chunk
)
SELECT n_chunks, n_distinct_chunks, total_tokens, stored_tokens,
       CASE WHEN total_tokens > 0 THEN
         floor((total_tokens - stored_tokens) * 1.0 / total_tokens
               * 10000.0 + 0.5) / 10000.0 END AS saved_token_share,
       CASE WHEN total_tokens > 0 THEN
         floor(total_tokens * 1.0 / n_chunks * 10000.0 + 0.5) / 10000.0
       END AS mean_chunk_tokens
FROM agg
"""


QUERIES = {
    "dedup_exact_keeper": dedup_exact_keeper,
    "dedup_simhash_band_pairs": dedup_simhash_band_pairs,
    "dedup_simhash_clusters": dedup_simhash_clusters,
    "dedup_lsh_band_ladder": dedup_lsh_band_ladder,
    "dedup_lsh_recall_by_jaccard": dedup_lsh_recall_by_jaccard,
    "dedup_threshold_sweep": dedup_threshold_sweep,
    "dq_duplicate_rate_by_source": dq_duplicate_rate_by_source,
    "dedup_bloom_prefilter": dedup_bloom_prefilter,
    "dedup_exact_md5": dedup_exact_md5,
    "dedup_ngram_jaccard_pairs": dedup_ngram_jaccard_pairs,
    "dedup_containment_pairs": dedup_containment_pairs,
    "dedup_lsh_cluster_assign": dedup_lsh_cluster_assign,
    "dedup_minhash_lsh_pairs": dedup_minhash_lsh_pairs,
    "dedup_shingle_docfreq_hist": dedup_shingle_docfreq_hist,
    "dedup_simhash_signatures": dedup_simhash_signatures,
    "dedup_cluster_assign": dedup_cluster_assign,
    "dedup_cluster_assign_star": dedup_cluster_assign_star,
    "dedup_decontaminate": dedup_decontaminate,
    "dedup_incremental_pairs": dedup_incremental_pairs,
    "dedup_incremental_cc": dedup_incremental_cc,
    "dedup_boilerplate_lines": dedup_boilerplate_lines,
    "dedup_editdist_names": dedup_editdist_names,
    "dedup_repeated_ngram_share": dedup_repeated_ngram_share,
    "dedup_normalized_keeper": dedup_normalized_keeper,
    "dq_contamination_scorecard": dq_contamination_scorecard,
    "dedup_keeper_selection": dedup_keeper_selection,
    "dedup_survivorship_funnel": dedup_survivorship_funnel,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_prefix_jaccard_pairs": dedup_prefix_jaccard_pairs,
    "dedup_cdc_chunks": dedup_cdc_chunks,
    "dedup_cut_spans_emit": dedup_cut_spans_emit,
    "dedup_sorted_neighborhood_pairs": dedup_sorted_neighborhood_pairs,
}

ORACLE = {
    "dedup_exact_keeper": DEDUP_EXACT_ORACLE,
    "dedup_simhash_band_pairs": DEDUP_SIMHASH_PAIRS_ORACLE,
    "dedup_simhash_clusters": DEDUP_SIMHASH_CLUSTERS_ORACLE,
    "dedup_threshold_sweep": DEDUP_THRESHOLD_SWEEP_ORACLE,
    "dq_duplicate_rate_by_source": DQ_DUP_RATE_ORACLE,
    "dedup_bloom_prefilter": DEDUP_BLOOM_ORACLE,
    "dedup_exact_md5": DEDUP_MD5_ORACLE,
    "dedup_ngram_jaccard_pairs": DEDUP_JACCARD_ORACLE,
    "dedup_containment_pairs": DEDUP_CONTAINMENT_ORACLE,
    "dedup_shingle_docfreq_hist": DEDUP_DF_ORACLE,
    "dedup_cluster_assign": DEDUP_CLUSTER_ORACLE,
    # same oracle: component membership is algorithm-independent
    "dedup_cluster_assign_star": DEDUP_CLUSTER_ORACLE,
    "dedup_decontaminate": DEDUP_DECON_ORACLE,
    "dedup_incremental_pairs": DEDUP_INCR_ORACLE,
    "dedup_incremental_cc": DEDUP_INCR_CC_ORACLE,
    "dedup_boilerplate_lines": DEDUP_BOILER_ORACLE,
    "dedup_editdist_names": DEDUP_EDITDIST_ORACLE,
    "dedup_repeated_ngram_share": DEDUP_REPEATED_ORACLE,
    "dedup_normalized_keeper": DEDUP_NORMALIZED_ORACLE,
    "dedup_survivorship_funnel": DEDUP_FUNNEL_ORACLE,
    "dq_contamination_scorecard": DQ_CONTAMINATION_ORACLE,
    "dedup_keeper_selection": DEDUP_KEEPER_ORACLE,
    "dedup_simhash_signatures": DEDUP_SIMHASH_ORACLE,
    # oracle-backed since r10: md5 permutation family + lossless band
    # keys make the LSH candidate set DuckDB-reproducible (r9 verdict
    # item 4 — previously rows-only under xxhash64 signatures)
    "dedup_minhash_lsh_pairs": DEDUP_MINHASH_LSH_ORACLE,
    "dedup_lsh_band_ladder": DEDUP_LSH_LADDER_ORACLE,
    "dedup_lsh_cluster_assign": DEDUP_LSH_CLUSTER_ORACLE,
    "dedup_lsh_recall_by_jaccard": DEDUP_LSH_RECALL_BY_JACCARD_ORACLE,
    "dedup_substring_spans": DEDUP_SUBSTRING_SPANS_ORACLE,
    # spec-form oracle shared with the inverted-index variant: prefix
    # filtering is EXACT by theorem, and the shared oracle is the proof
    "dedup_prefix_jaccard_pairs": DEDUP_JACCARD_ORACLE,
    "dedup_cdc_chunks": _cdc_oracle(),
    "dedup_cut_spans_emit": DEDUP_CUT_SPANS_EMIT_ORACLE,
    "dedup_sorted_neighborhood_pairs": DEDUP_SNM_ORACLE,
}
