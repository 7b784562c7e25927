"""End-to-end training-corpus cleaning: the composition the individual
dedup/text operators exist for, as ONE declarative query —
quality filter → exact dedup → near-dup cluster dedup → per-language
report.  Demonstrates that the pieces compose without materialization
barriers: Catalyst plans the whole chain (the iterative cluster
assignment is the only pre-computed input).

Keep rules (single-pass declarative approximation of a staged
pipeline; a production run would re-run stages in sequence):
  1. quality: token_count >= 50 (the medium+ bucket of
     textops.text_quality)
  2. exact: keep the min doc_id per md5(text)
  3. near-dup: drop docs that sit in a Jaccard cluster and are not the
     cluster keeper (cluster_id == doc_id); docs in no pair pass
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import table
from ._rounding import _avg_dec, _fr4
from .dedup import DEDUP_CLUSTER_ORACLE, dedup_cluster_assign
from .textops import _TOKS, _TOKS_DUCK

MIN_TOKENS = 50


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language report over the cleaned corpus (kept docs, average
    tokens, kept ratio vs raw)."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr(f"size({_TOKS})")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    clusters = dedup_cluster_assign(spark, sf_dir)
    kept = (
        d.withColumn("token_count", toks)
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("token_count") >= MIN_TOKENS))
        .join(clusters, "doc_id", "left")
        .where(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
    )
    raw = d.groupBy("lang").agg(F.count("*").alias("raw_docs"))
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("kept_docs"),
            _avg_dec(F.col("token_count"), 2).alias("avg_tokens"),
        )
        .join(raw, "lang")
        .select(
            "lang",
            "kept_docs",
            "raw_docs",
            "avg_tokens",
            (
                F.floor(
                    F.col("kept_docs") / F.col("raw_docs") * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("kept_ratio"),
        )
        .orderBy("lang")
    )


PIPELINE_ORACLE = f"""
WITH
clusters AS ({DEDUP_CLUSTER_ORACLE}),
kept AS (
  SELECT doc_id, lang, len({_TOKS_DUCK}) AS token_count
  FROM documents
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
survivors AS (
  SELECT k.lang, k.token_count
  FROM kept k LEFT JOIN clusters c USING (doc_id)
  WHERE k.token_count >= {MIN_TOKENS}
    AND (c.cluster_id IS NULL OR c.cluster_id = k.doc_id)
),
raw AS (
  SELECT lang, COUNT(*) AS raw_docs FROM documents GROUP BY lang
)
SELECT s.lang,
       COUNT(*) AS kept_docs,
       raw.raw_docs,
       floor(CAST(SUM(CAST(s.token_count AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(s.token_count) * 100.0 + 0.5) / 100.0 AS avg_tokens,
       floor(COUNT(*) * 1.0 / raw.raw_docs * 10000.0 + 0.5) / 10000.0
         AS kept_ratio
FROM survivors s JOIN raw ON s.lang = raw.lang
GROUP BY s.lang, raw.raw_docs
ORDER BY s.lang
"""

def pipeline_training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-example manifest: quality-filtered deduped documents
    joined 1:1 to their embedding row (doc_id = vec_id) — the assembly
    step that pairs text with its vector for a multimodal training
    shard.

    Scale: this is the canonical co-partitioned fact-fact join — both
    sides are corpus-sized and keyed by the same id, so at 100 TB the
    tables should be bucketed/partitioned on the id at write time
    (sources/bucketing.py) and the join needs no shuffle at all; here
    Spark picks the join strategy by size."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    toks = F.expr(f"size({_TOKS})")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        d.withColumn("token_count", toks)
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("token_count") >= MIN_TOKENS))
    )
    emb_norm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return (
        kept.join(e, F.col("doc_id") == F.col("vec_id"))
        .select(
            "doc_id",
            "lang",
            "token_count",
            "label",
            # ROUND on a double, outside the swept ROUND(AVG) class:
            # both engines fold the same doubles in the same order and
            # sqrt is IEEE-correctly-rounded, so the engines round the
            # bit-identical value; divergence needs that value within
            # 1 ulp of a 4 dp halfway point.  The floor recipe
            # (_rounding._fr4) would close even that; it has not been
            # applied here, and applying it changes the oracle too.
            F.round(emb_norm, 4).alias("emb_norm"),
            F.md5("text").alias("text_md5"),
        )
        .orderBy("doc_id")
    )


TRAINING_EXAMPLES_ORACLE = f"""
WITH kept AS (
  SELECT doc_id, lang, len({_TOKS_DUCK}) AS token_count, md5(text) AS text_md5
  FROM documents
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
)
SELECT doc_id, lang, token_count, label,
       ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x * x))), 4) AS emb_norm,
       text_md5
FROM kept JOIN embeddings ON doc_id = vec_id
WHERE token_count >= {MIN_TOKENS}
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Per-language sampling rates (percent kept): the training-mix recipe.
SAMPLE_RATES = {"en": 80, "zh": 50, "de": 30}
SAMPLE_DEFAULT_RATE = 10
SAMPLE_SEED = 42


def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling — the data-mixing step of a
    training pipeline: each language keeps a configured percentage of
    documents, selected by a DETERMINISTIC hash of (seed, doc_id)
    rather than an RNG, so every engine and every rerun draws the same
    sample (md5 here: engine-portable; the point is hash-gated
    sampling, not the hash).  Narrow map + filter, no shuffle, no RNG
    state — at 100 TB each task samples its partition independently."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(SAMPLE_SEED), "doc_id")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("rate"))
        .where(F.col("bucket") < F.col("rate"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in sorted(SAMPLE_RATES.items())
) + f" ELSE {SAMPLE_DEFAULT_RATE} END"

STRATIFIED_SAMPLE_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE CAST(concat('0x', substring(md5({SAMPLE_SEED} || '_' || doc_id), 1, 4)) AS INTEGER) % 100
      < {_RATE_SQL}
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Sequence packing (concat-then-chunk): the standard LLM pretraining
# layout — documents are concatenated in a deterministic order and the
# token stream is cut into fixed-length sequences; a document may
# straddle a chunk boundary.
PACK_SEQ_LEN = 512
PACK_N_SHARDS = 8


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing manifest: for every document, its shard, token offset in
    the shard's concatenated stream, and the [chunk_first, chunk_last]
    span of PACK_SEQ_LEN-token training sequences it lands in.

    Scale: a single global concatenation order would funnel the cumsum
    window through one partition — the classic unpartitioned-window
    bottleneck.  Real pipelines pack per output shard, so the stream is
    sharded by pmod(doc_id, N) first and the running offset is a window
    cumsum WITHIN each shard: N independent sorted partitions, fully
    parallel, deterministic across engines and reruns.  At 100 TB the
    shard count scales with output file count, keeping every window
    partition bounded."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr(f"size({_TOKS})")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.select(
            "doc_id",
            F.pmod(F.col("doc_id"), F.lit(PACK_N_SHARDS)).alias("shard"),
            toks.cast("long").alias("token_count"),
        )
        .where(F.col("token_count") > 0)
        .withColumn(
            "t_offset", F.coalesce(F.sum("token_count").over(w), F.lit(0)).cast("long")
        )
        .withColumn(
            "chunk_first",
            F.floor(F.col("t_offset") / PACK_SEQ_LEN).cast("long"),
        )
        .withColumn(
            "chunk_last",
            F.floor((F.col("t_offset") + F.col("token_count") - 1) / PACK_SEQ_LEN).cast(
                "long"
            ),
        )
        .withColumn(
            "n_chunks", (F.col("chunk_last") - F.col("chunk_first") + 1).cast("long")
        )
        .orderBy("shard", "doc_id")
    )


PACK_SEQUENCES_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         doc_id % {PACK_N_SHARDS} AS shard,
         CAST(len({_TOKS_DUCK}) AS BIGINT) AS token_count
  FROM documents
),
pos AS (
  SELECT doc_id, shard, token_count,
         CAST(COALESCE(SUM(token_count) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS t_offset
  FROM toks
  WHERE token_count > 0
)
SELECT doc_id, shard, token_count, t_offset,
       CAST(FLOOR(t_offset / {PACK_SEQ_LEN}.0) AS BIGINT) AS chunk_first,
       CAST(FLOOR((t_offset + token_count - 1) / {PACK_SEQ_LEN}.0) AS BIGINT)
         AS chunk_last,
       CAST(FLOOR((t_offset + token_count - 1) / {PACK_SEQ_LEN}.0)
            - FLOOR(t_offset / {PACK_SEQ_LEN}.0) + 1 AS BIGINT) AS n_chunks
FROM pos
ORDER BY shard, doc_id
"""


# --------------------------------------------------------------------------
# Packing-efficiency audit (r9) — the decision table behind the packing
# strategy choice: concat-then-chunk wastes no tokens but SPLITS
# documents across sequence boundaries (attention fragmentation), while
# a pad-to-boundary packer keeps documents whole but burns capacity on
# padding.  Both costs are pure arithmetic over the packing manifest,
# reported per document-length bin so the histogram shows WHERE each
# strategy loses (short docs: padding waste; long docs: straddling).
PACK_LEN_BIN = 16


def pipeline_packing_efficiency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per doc-length bin: the padding waste a no-split packer WOULD
    incur (each doc alone in ceil(len/L) padded sequences) vs the
    boundary-crossing cost concat-then-chunk DOES incur (docs
    straddling a chunk boundary).  Closes the loop on
    pipeline_pack_sequences.

    Scale: one hash-agg over the manifest on a ~len/BIN key space —
    no joins, no extra shuffle beyond the manifest's per-shard window.
    Integer cuts use DIV on both engines (double-division casts
    truncate vs round differently across engines)."""
    L = PACK_SEQ_LEN
    base = pipeline_pack_sequences(spark, sf_dir)
    return (
        base.select(
            F.expr(f"(token_count DIV {PACK_LEN_BIN}) * {PACK_LEN_BIN}")
            .alias("len_bin"),
            "token_count",
            F.expr(f"(token_count + {L - 1}) DIV {L}").alias("solo_chunks"),
            "n_chunks",
        )
        .groupBy("len_bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("token_count").alias("total_tokens"),
            (F.sum(F.col("solo_chunks") * L) - F.sum("token_count")).alias(
                "solo_pad_waste"
            ),
            F.sum((F.col("n_chunks") >= 2).cast("long")).alias(
                "straddle_docs"
            ),
            F.sum(F.col("n_chunks") - 1).alias("boundary_crossings"),
        )
        # share of a no-split packer's capacity burnt on padding;
        # denominator = total padded capacity = tokens + waste > 0
        .withColumn(
            "solo_waste_pct",
            _fr4(
                F.col("solo_pad_waste")
                * 100.0
                / (F.col("total_tokens") + F.col("solo_pad_waste"))
            ),
        )
        .orderBy("len_bin")
    )


PACKING_EFFICIENCY_ORACLE = f"""
WITH manifest AS ({PACK_SEQUENCES_ORACLE}),
binned AS (
  SELECT (token_count // {PACK_LEN_BIN}) * {PACK_LEN_BIN} AS len_bin,
         token_count,
         (token_count + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN} AS solo_chunks,
         n_chunks
  FROM manifest
),
agg AS (
  SELECT len_bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(token_count) AS BIGINT) AS total_tokens,
         CAST(SUM(solo_chunks * {PACK_SEQ_LEN}) - SUM(token_count) AS BIGINT)
           AS solo_pad_waste,
         CAST(SUM(CASE WHEN n_chunks >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS straddle_docs,
         CAST(SUM(n_chunks - 1) AS BIGINT) AS boundary_crossings
  FROM binned
  GROUP BY len_bin
)
SELECT len_bin, n_docs, total_tokens, solo_pad_waste, straddle_docs,
       boundary_crossings,
       floor(solo_pad_waste * 100.0 / (total_tokens + solo_pad_waste)
             * 10000.0 + 0.5) / 10000.0 AS solo_waste_pct
FROM agg
ORDER BY len_bin
"""


# --------------------------------------------------------------------------
# Document-boundary-aware packing masks (r7 verdict item 8b): concat-
# then-chunk packing puts multiple documents into one training
# sequence, and a boundary-aware trainer masks cross-document
# attention.  This mart is the manifest it consumes: one row per
# (training chunk, document span) — where inside the chunk each
# document's tokens sit.  Pure arithmetic over the packing manifest:
# doc spanning chunks [cf, cl] contributes to chunk c the interval
# [max(0, off − c·L), min(L, off + n − c·L)).
def pipeline_pack_attention_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attention-mask span manifest: (shard, chunk_id, doc_id,
    start_pos, span_len) for every document span inside every packed
    PACK_SEQ_LEN-token training sequence.  Spans tile each chunk
    exactly (pytest-pinned: contiguous, non-overlapping, summing to
    the chunk length except each shard's final partial chunk).

    Scale: a narrow explode over the packing manifest's per-shard
    window — no shuffle beyond the one pipeline_pack_sequences
    already does; output rows = Σ n_chunks, linear in corpus tokens
    divided by the sequence length."""
    L = PACK_SEQ_LEN
    base = pipeline_pack_sequences(spark, sf_dir)
    start = F.greatest(
        F.lit(0).cast("long"),
        F.col("t_offset") - F.col("chunk_id") * L,
    )
    end = F.least(
        F.lit(L).cast("long"),
        F.col("t_offset") + F.col("token_count") - F.col("chunk_id") * L,
    )
    return (
        base.select(
            "doc_id",
            "shard",
            "token_count",
            "t_offset",
            F.explode(
                F.expr("sequence(chunk_first, chunk_last)")
            ).alias("chunk_id"),
        )
        .select(
            "shard",
            "chunk_id",
            "doc_id",
            start.cast("long").alias("start_pos"),
            (end - start).cast("long").alias("span_len"),
        )
        .orderBy("shard", "chunk_id", "start_pos")
    )


PACK_ATTENTION_SPANS_ORACLE = f"""
WITH pack AS ({PACK_SEQUENCES_ORACLE.replace("ORDER BY shard, doc_id", "")}),
expanded AS (
  SELECT shard, doc_id, token_count, t_offset,
         UNNEST(generate_series(chunk_first, chunk_last)) AS chunk_id
  FROM pack
)
SELECT shard, chunk_id, doc_id,
       CAST(GREATEST(0, t_offset - chunk_id * {PACK_SEQ_LEN}) AS BIGINT)
         AS start_pos,
       CAST(LEAST({PACK_SEQ_LEN}, t_offset + token_count
                  - chunk_id * {PACK_SEQ_LEN})
            - GREATEST(0, t_offset - chunk_id * {PACK_SEQ_LEN}) AS BIGINT)
         AS span_len
FROM expanded
ORDER BY shard, chunk_id, start_pos
"""


# --------------------------------------------------------------------------
# Domain-mixture rebalancing: hit an equal-share target mixture over
# languages by hash-gated downsampling of over-represented strata — the
# "data mixing" step between cleaning and packing in a pretraining
# pipeline.  Targets are computed FROM the data (total/n_langs), so the
# same query adapts to any corpus.
MIXTURE_SEED = 7


def pipeline_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixture report: raw count, the sampling rate that
    levels each language to an equal share of the corpus, and the count
    actually kept by the deterministic md5 gate.

    Scale shape: the per-stratum rate table is a two-level aggregate of
    the corpus (lang cardinality ~ dozens) cross-joined with its own
    1-row total — both tiny, both broadcast.  The corpus itself sees
    one narrow map (hash bucket) + a broadcast join + a low-cardinality
    re-aggregate: one shuffle of 5 keys end-to-end, no RNG state, and
    reruns/engines agree bit-for-bit (same md5 gate as
    pipeline_stratified_sample).  Languages leveled to rate 0 drop from
    the report (inner join) — by construction the equal-share target
    never rounds below 1% unless a stratum exceeds 100x its share."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    totals = counts.agg(
        F.sum("n_docs").alias("total"), F.count("*").alias("n_langs")
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(100),
            F.floor(
                F.lit(100.0) / F.col("n_langs") * F.col("total") / F.col("n_docs")
            ),
        )
        .cast("int")
        .alias("rate_pct"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.lit(MIXTURE_SEED), "doc_id")), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        d.select("lang", bucket.alias("bucket"))
        .join(F.broadcast(rates), "lang")
        .where(F.col("bucket") < F.col("rate_pct"))
        .groupBy("lang", "n_docs", "rate_pct")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("lang")
    )


DOMAIN_MIXTURE_ORACLE = f"""
WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total, COUNT(*) AS n_langs FROM c),
r AS (
  SELECT lang, n_docs,
         CAST(LEAST(100, FLOOR(100.0 / n_langs * total / n_docs)) AS INTEGER)
           AS rate_pct
  FROM c, t
),
s AS (
  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
  FROM documents d JOIN r USING (lang)
  WHERE CAST(concat('0x', substring(md5({MIXTURE_SEED} || '_' || d.doc_id), 1, 4))
             AS INTEGER) % 100 < r.rate_pct
  GROUP BY d.lang
)
SELECT r.lang, r.n_docs, r.rate_pct, s.n_sampled
FROM r JOIN s USING (lang)
ORDER BY lang
"""


# --------------------------------------------------------------------------
# Deterministic train/val/test split — the assignment every training
# corpus needs exactly once, reproducibly, with no RNG and no shuffle:
# membership is a pure function of (seed, doc_id), so any engine, any
# rerun, and any later incremental batch lands each document in the
# same split.
# re-exported from the shared leaf module (see _splits.py docstring)
from ._splits import (  # noqa: E402
    SPLIT_SEED,
    SPLIT_TRAIN_PCT,
    SPLIT_VAL_PCT,
)


def pipeline_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (split, lang) report of the hash-assigned 90/5/5 split: doc
    count and total chars — the sanity check that split proportions and
    language balance hold.

    Scale shape: one narrow map (md5 bucket → split label) over the
    corpus, then a hash-agg on a ~3×|langs| key space.  No sorts, no
    joins, no RNG; at 100 TB each task labels its partition
    independently and the aggregate is map-side-combined."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.lit(SPLIT_SEED), "doc_id")), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


TRAIN_VAL_TEST_ORACLE = f"""
WITH labeled AS (
  SELECT CASE
           WHEN CAST(concat('0x', substring(md5({SPLIT_SEED} || '_' || doc_id), 1, 4))
                AS INTEGER) % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
           WHEN CAST(concat('0x', substring(md5({SPLIT_SEED} || '_' || doc_id), 1, 4))
                AS INTEGER) % 100 < {SPLIT_VAL_PCT} THEN 'val'
           ELSE 'test'
         END AS split,
         lang, n_chars
  FROM documents
)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM labeled
GROUP BY split, lang
ORDER BY split, lang
"""


# --------------------------------------------------------------------------
# Fixed-k-per-group sampling, RNG-free: order each group by a salted
# hash of the key and keep the first k — the reproducible form of
# "sample k docs per language for eval".  At scale the window input is
# the full corpus but each partition only needs its top-k (Spark runs
# rank-truncating windows with a per-partition bounded sort); the
# hash order is uniform, so the kept set is an unbiased fixed-size
# sample that is IDENTICAL across engines, runs, and cluster layouts.
SAMPLE_PER_GROUP_K = 20


def pipeline_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-docs-per-language sample: rank by md5(doc_id)
    inside each language, keep rank ≤ k."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= SAMPLE_PER_GROUP_K)
        .select("lang", "rk", "doc_id", "n_chars")
        .orderBy("lang", "rk")
    )


PER_GROUP_SAMPLE_ORACLE = f"""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT lang, rk, doc_id, n_chars
FROM ranked
WHERE rk <= {SAMPLE_PER_GROUP_K}
ORDER BY lang, rk
"""


# --------------------------------------------------------------------------
# Hashing-trick featurization: tokens → fixed-width bucket space via a
# portable hash (md5 hex prefix, identical in every engine/language —
# xxhash64/murmur are Spark-internal and would never oracle-match).
# The profile below is the collision audit run before committing to a
# bucket width: occupancy and collision mass per bucket.
FEATURE_HASH_BUCKETS = 64


def pipeline_feature_hash_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy profile of the hashing-trick feature space:
    per bucket, total token occurrences, distinct tokens (the
    collision count), and the share of occurrences whose token is NOT
    the bucket's dominant token (collision mass — the information the
    width-64 projection destroys).

    Scale shape: token explode → two hash-aggs (token grain, then
    bucket grain) + a max-join for the dominant token; every stage
    keys on bounded-width strings/ints.  The md5-prefix bucket is
    deterministic across engines (unlike Spark's internal murmur/xx
    hashes) — the same property the dedup/split operators rely on."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.expr("filter(split(text, ' '), t -> t <> '')")).alias(
            "token"
        )
    )
    per_token = toks.groupBy("token").agg(F.count("*").alias("occ"))
    bucketed = per_token.withColumn(
        "bucket",
        (
            F.conv(F.substring(F.md5("token"), 1, 6), 16, 10).cast("long")
            % FEATURE_HASH_BUCKETS
        ).cast("int"),
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.sum("occ").alias("occurrences"),
        F.count("*").alias("distinct_tokens"),
        F.max("occ").alias("top_token_occ"),
    )
    return per_bucket.select(
        "bucket",
        "occurrences",
        "distinct_tokens",
        (
            F.floor(
                (F.col("occurrences") - F.col("top_token_occ"))
                * 100.0
                / F.col("occurrences")
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("collision_mass_pct"),
    ).orderBy("bucket")


FEATURE_HASH_ORACLE = f"""
WITH toks AS (
  SELECT UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
per_token AS (SELECT token, COUNT(*) AS occ FROM toks GROUP BY token),
bucketed AS (
  SELECT token, occ,
         CAST(CAST(CONCAT('0x', SUBSTR(md5(token), 1, 6)) AS BIGINT)
              % {FEATURE_HASH_BUCKETS} AS INTEGER) AS bucket
  FROM per_token
)
SELECT bucket,
       CAST(SUM(occ) AS BIGINT) AS occurrences,
       COUNT(*) AS distinct_tokens,
       floor((SUM(occ) - MAX(occ)) * 100.0 / SUM(occ) * 10000.0 + 0.5)
         / 10000.0
         AS collision_mass_pct
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


# --------------------------------------------------------------------------
# Sequence-length bucket audit: documents histogrammed into
# power-of-two token-length buckets, with the padding waste a
# fixed-shape trainer would pay if every doc in a bucket were padded
# to the bucket's upper edge.  The pre-flight report behind choosing
# packing strategy (pipeline_pack_sequences) vs plain padding.
#
# Bucket edges are INTEGER comparisons from a Python-generated CASE
# ladder — identical literals in both plans.  No log2(): float log of
# an exact power of two is correctly-rounded in practice, but a CASE
# over ints removes the question entirely (w10's determinism lesson:
# never let two libms near a bucket edge).
_LEN_BUCKET_MAX_POW = 12  # buckets up to 4096 tokens — past any testdata doc


def _len_bucket_edges() -> list[tuple[int, int]]:
    return [(1 << k, (1 << (k + 1)) - 1) for k in range(_LEN_BUCKET_MAX_POW)]


def pipeline_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per power-of-two length bucket: docs, total tokens, and padding
    waste percent if padded to the bucket's inclusive upper edge.
    One narrow map + one small hash-agg; output rows = #buckets."""
    d = table(spark, sf_dir, "documents")
    toks = F.size(F.expr("filter(split(text, ' '), t -> t <> '')"))
    bucket_lo = F.lit(None).cast("long")
    for lo, hi in reversed(_len_bucket_edges()):
        bucket_lo = F.when(
            (toks >= F.lit(lo)) & (toks <= F.lit(hi)), F.lit(lo)
        ).otherwise(bucket_lo)
    return (
        d.select(toks.alias("n_tokens"), bucket_lo.alias("bucket_lo"))
        .where(F.col("bucket_lo").isNotNull())
        .groupBy("bucket_lo")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # pad target = 2*bucket_lo - 1 (the bucket's inclusive hi)
            (
                F.floor(
                    F.sum(F.lit(2) * F.col("bucket_lo") - 1 - F.col("n_tokens"))
                    * 100.0
                    / F.sum(F.lit(2) * F.col("bucket_lo") - 1)
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("pad_waste_pct"),
        )
        .orderBy("bucket_lo")
    )


def _len_bucket_case_sql() -> str:
    arms = "\n           ".join(
        f"WHEN n_tokens BETWEEN {lo} AND {hi} THEN {lo}"
        for lo, hi in _len_bucket_edges()
    )
    return f"CASE {arms} ELSE NULL END"


LENGTH_BUCKETS_ORACLE = f"""
WITH counted AS (
  SELECT len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
  FROM documents
),
bucketed AS (
  SELECT n_tokens, {_len_bucket_case_sql()} AS bucket_lo FROM counted
)
SELECT bucket_lo,
       COUNT(*) AS docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       floor(SUM(2 * bucket_lo - 1 - n_tokens) * 100.0
             / SUM(2 * bucket_lo - 1) * 10000.0 + 0.5) / 10000.0
         AS pad_waste_pct
FROM bucketed
WHERE bucket_lo IS NOT NULL
GROUP BY bucket_lo
ORDER BY bucket_lo
"""


# --------------------------------------------------------------------------
# Curriculum ordering: easy→hard training phases by lexical-diversity
# quartiles (the curriculum-learning data layout), with a deterministic
# hash shuffle key WITHIN each phase so epoch order is reproducible
# without any RNG.  The per-doc score is an exact integer
# (distinct·10⁴ DIV tokens), so the percentile_disc quartile cuts see
# identical values in both engines — the RFM broadcast-cuts pattern,
# which needs no global sort; the within-phase order key is
# md5-derived, so a trainer ORDER BY (phase, order_key) streams a
# stable curriculum at any scale.
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curriculum phase (1 = least lexically diverse =
    easiest, 4 = hardest) from quartile cuts of the integer diversity
    score, plus the deterministic within-phase order key.  Empty
    documents carry no tokens and are excluded."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        # BIGINT up front: size() is int32 and ×10⁴ wraps past ~214k
        # tokens in Spark (non-ANSI) while DuckDB's len() is already
        # BIGINT — same-class hazard as the PMI lift overflow.
        F.expr(
            f"CAST(size(array_distinct({_TOKS})) AS BIGINT) * 10000"
            f" DIV size({_TOKS})"
        ).alias("score"),
    ).where(F.expr(f"size({_TOKS})") > 0)
    cuts = scored.agg(
        *[
            F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY score)").alias(
                f"c{int(p * 100)}"
            )
            for p in (0.25, 0.5, 0.75)
        ]
    )
    phase = (
        F.lit(1)
        + F.when(F.col("score") > F.col("c25"), 1).otherwise(0)
        + F.when(F.col("score") > F.col("c50"), 1).otherwise(0)
        + F.when(F.col("score") > F.col("c75"), 1).otherwise(0)
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            "score",
            phase.alias("phase"),
            F.md5(F.col("doc_id").cast("string")).alias("order_key"),
        )
        .orderBy("phase", "order_key", "doc_id")
    )


CURRICULUM_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         len(list_distinct({_TOKS_DUCK})) * 10000 // len({_TOKS_DUCK}) AS score
  FROM documents
  WHERE len({_TOKS_DUCK}) > 0
),
cuts AS (
  SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY score) AS c25,
         percentile_disc(0.50) WITHIN GROUP (ORDER BY score) AS c50,
         percentile_disc(0.75) WITHIN GROUP (ORDER BY score) AS c75
  FROM scored
)
SELECT doc_id, CAST(score AS BIGINT) AS score,
       1 + (CASE WHEN score > c25 THEN 1 ELSE 0 END)
         + (CASE WHEN score > c50 THEN 1 ELSE 0 END)
         + (CASE WHEN score > c75 THEN 1 ELSE 0 END) AS phase,
       md5(CAST(doc_id AS VARCHAR)) AS order_key
FROM scored CROSS JOIN cuts
ORDER BY phase, order_key, doc_id
"""


# --------------------------------------------------------------------------
# Deterministic weighted sampling without replacement (Efraimidis–
# Spirakis A-ES): each doc draws u ∈ (0,1] from an md5-derived hash
# (engine-portable, RNG-free — the stratified sampler's trick) and the
# k docs with the LARGEST u^(1/w) win, equivalently the SMALLEST
# -ln(u)/w — so heavier docs (here: longer, weight = token count) are
# proportionally likelier, yet every engine and every rerun draws the
# identical sample.  Scale shape: narrow map to compute the key, then
# TakeOrderedAndProject top-k — no shuffle, no global sort, no RNG
# state; each task offers its partition's candidates independently.
WEIGHTED_SAMPLE_K = 50
WEIGHTED_SAMPLE_SEED = 20240814


def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-WEIGHTED_SAMPLE_K docs under hash-deterministic weighted
    sampling with weight = token count (empty docs carry no weight and
    are excluded)."""
    d = table(spark, sf_dir, "documents")
    w = F.expr(f"size({_TOKS})")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.lit(WEIGHTED_SAMPLE_SEED), "doc_id")),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(1)
    ) / F.lit(4294967296.0)
    key = -F.log(u) / w
    return (
        d.select(
            "doc_id",
            w.alias("weight"),
            key.alias("sample_key"),
        )
        .where(F.col("weight") > 0)
        .orderBy("sample_key", "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
        # floor(x·1e6+0.5)/1e6, not ROUND: the repo-wide double-ratio
        # recipe (w10 lesson) — keys are ln-derived so halfway doubles
        # are vanishingly unlikely, but uniformity keeps parity
        # structural rather than probabilistic
        .select(
            "doc_id",
            "weight",
            (
                F.floor(F.col("sample_key") * F.lit(1000000.0) + F.lit(0.5))
                / F.lit(1000000.0)
            ).alias("sample_key"),
        )
    )


WEIGHTED_SAMPLE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         len({_TOKS_DUCK}) AS weight,
         -ln((CAST(concat('0x',
                 substring(md5({WEIGHTED_SAMPLE_SEED} || '_' || doc_id), 1, 8))
               AS BIGINT) + 1) / 4294967296.0)
           / len({_TOKS_DUCK}) AS sample_key
  FROM documents
  WHERE len({_TOKS_DUCK}) > 0
)
SELECT doc_id, CAST(weight AS INTEGER) AS weight,
       floor(sample_key * 1000000.0 + 0.5) / 1000000.0 AS sample_key
FROM scored
ORDER BY scored.sample_key, doc_id
LIMIT {WEIGHTED_SAMPLE_K}
"""


# --------------------------------------------------------------------------
# Per-source mixture reweighting to a target TOKEN budget — the data-
# mixing step expressed in the unit that matters for pretraining:
# tokens, not documents.  The budget is computed FROM the data (half
# the corpus's tokens, split equally across sources) so the query
# adapts to any corpus; a production run would broadcast externally-
# chosen weights instead — the shape is identical.
#
# Scale shape: per-source token totals are a hash-agg to ~|sources|
# rows, the rate table broadcasts back over the corpus, and the kept
# split is the same deterministic md5 gate as the other samplers (no
# RNG, engine-portable, rerun-stable).  One corpus shuffle on `source`
# end-to-end; all arithmetic is integer (DIV) so the cut points are
# engine-agreed.
REWEIGHT_SEED = 11
REWEIGHT_BUDGET_DENOM = 2  # target budget = total tokens / 2


def pipeline_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source reweighting report: raw docs/tokens, the integer
    sampling rate (pct) that levels each source to an equal share of
    the token budget, and the docs/tokens actually kept by the md5
    gate.  Sources leveled to rate 0 drop from the report (inner
    join), mirroring pipeline_domain_mixture."""
    d = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.expr(f"size({_TOKS})").cast("long").alias("tk")
    )
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("tk").alias("src_tokens")
    )
    totals = per_src.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    # integer DIV end-to-end (Spark DIV ≡ DuckDB // on BIGINT) — double
    # division + cast would truncate in Spark but round in DuckDB.
    # src_tokens > 0 guard: an all-empty-docs source would make the
    # DIV a divide-by-zero (NULL in Spark, engine-divergent in DuckDB)
    # and least(100, NULL) would silently keep everything — such a
    # source contributes no tokens, so it drops from the report.
    rates = per_src.where(F.col("src_tokens") > 0).crossJoin(
        F.broadcast(totals)
    ).select(
        "source",
        "n_docs",
        "src_tokens",
        F.least(
            F.lit(100).cast("long"),
            F.expr(
                f"(total_tokens DIV ({REWEIGHT_BUDGET_DENOM} * n_sources)"
                " * 100) DIV src_tokens"
            ),
        ).alias("rate_pct"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.lit(REWEIGHT_SEED), "doc_id")), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        d.select("source", "tk", bucket.alias("bucket"))
        .join(F.broadcast(rates), "source")
        .where(F.col("bucket") < F.col("rate_pct"))
        .groupBy("source", "n_docs", "src_tokens", "rate_pct")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum("tk").alias("kept_tokens"),
        )
        .orderBy("source")
    )


MIXTURE_REWEIGHT_ORACLE = f"""
WITH d AS (
  SELECT source, doc_id, CAST(len({_TOKS_DUCK}) AS BIGINT) AS tk
  FROM documents
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tk) AS BIGINT) AS src_tokens
  FROM d GROUP BY source
),
totals AS (
  SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_sources
  FROM per_src
),
rates AS (
  SELECT source, n_docs, src_tokens,
         LEAST(CAST(100 AS BIGINT),
               (total_tokens // ({REWEIGHT_BUDGET_DENOM} * n_sources) * 100)
                 // src_tokens) AS rate_pct
  FROM per_src, totals
  WHERE src_tokens > 0
),
kept AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
         CAST(SUM(d.tk) AS BIGINT) AS kept_tokens
  FROM d JOIN rates USING (source)
  WHERE CAST(concat('0x', substring(md5({REWEIGHT_SEED} || '_' || d.doc_id),
                                    1, 4)) AS INTEGER) % 100 < rates.rate_pct
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.src_tokens, r.rate_pct,
       k.kept_docs, k.kept_tokens
FROM rates r JOIN kept k USING (source)
ORDER BY source
"""


# --------------------------------------------------------------------------
# Quality-floored waterfill mixture solver (r9) — the second half of
# the mixture story: pipeline_mixture_reweight levels every source to
# an EQUAL share, but real mixtures hit per-source capacity walls
# (a source may not HAVE its fair share of above-floor tokens), and
# naive equal-share leaves budget on the table.  The waterfill
# allocates fair shares first, then redistributes the unused remainder
# proportionally to each source's remaining above-floor capacity —
# the standard two-round solve, fully SQL-expressible.
WATERFILL_BUDGET_DENOM = 2  # budget = above-floor tokens / 2
WATERFILL_UNIQ_FLOOR = 0.5  # quality floor: distinct-token ratio


def pipeline_mixture_waterfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source token allocation under a quality floor: available =
    tokens of docs with ≥ MIN_TOKENS tokens AND distinct-token ratio ≥
    WATERFILL_UNIQ_FLOOR; round 1 gives each source min(available,
    budget/n_sources) — exact integers; round 2 redistributes the
    leftover budget proportionally to remaining capacity.  Columns:
    available/fair/round-1 are exact BIGINTs, the proportional round-2
    grant and final fill share are 4dp-quantized doubles (operands are
    exact integers < 2^53, so the IEEE division is engine-identical).

    Scale: two tiny aggregates (per-source, then totals) broadcast
    back over the per-source rows — no per-doc shuffle beyond the one
    groupBy(source); the corpus scan computes tk and the uniq ratio in
    one pass."""
    d = table(spark, sf_dir, "documents")
    tk = F.expr(f"size({_TOKS})").cast("long")
    uniq_ok = (
        F.expr(f"size(array_distinct({_TOKS}))")
        >= F.lit(WATERFILL_UNIQ_FLOOR) * F.expr(f"size({_TOKS})")
    )
    avail = (
        d.select("source", tk.alias("tk"), uniq_ok.alias("q"))
        .where((F.col("tk") >= MIN_TOKENS) & F.col("q"))
        .groupBy("source")
        .agg(F.sum("tk").alias("avail_tokens"))
    )
    totals = avail.agg(
        F.sum("avail_tokens").alias("pool"),
        F.count("*").alias("n_sources"),
    )
    r1 = (
        avail.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "avail_tokens",
            F.expr(
                f"pool DIV ({WATERFILL_BUDGET_DENOM} * n_sources)"
            ).alias("fair_share"),
            F.expr(f"pool DIV {WATERFILL_BUDGET_DENOM}").alias("budget"),
        )
        .withColumn(
            "alloc_round1", F.least("avail_tokens", F.col("fair_share"))
        )
        .withColumn("capacity", F.col("avail_tokens") - F.col("alloc_round1"))
    )
    r1_tot = r1.agg(
        F.sum("alloc_round1").alias("used"),
        F.sum("capacity").alias("sum_cap"),
        F.first("budget").alias("budget_t"),
    )
    # go double BEFORE the capacity multiply (long*long overflows ANSI
    # at real token scales); operands are exact ints < 2^53, so the
    # IEEE multiply/divide matches the oracle's `* 1.0` form exactly
    leftover = (F.col("budget_t") - F.col("used")).cast("double")
    grant = F.when(
        F.col("sum_cap") > 0,
        _fr4(leftover * F.col("capacity") / F.col("sum_cap")),
    ).otherwise(F.lit(0.0))
    return (
        r1.crossJoin(F.broadcast(r1_tot))
        .select(
            "source",
            "avail_tokens",
            "fair_share",
            "alloc_round1",
            grant.alias("alloc_round2"),
        )
        .withColumn(
            "fill_pct",
            _fr4(
                (F.col("alloc_round1") + F.col("alloc_round2"))
                * 100.0
                / F.col("avail_tokens")
            ),
        )
        .orderBy("source")
    )


MIXTURE_WATERFILL_ORACLE = f"""
WITH d AS (
  SELECT source,
         CAST(len({_TOKS_DUCK}) AS BIGINT) AS tk,
         len(list_distinct({_TOKS_DUCK})) >= {WATERFILL_UNIQ_FLOOR}
           * len({_TOKS_DUCK}) AS q
  FROM documents
),
avail AS (
  SELECT source, CAST(SUM(tk) AS BIGINT) AS avail_tokens
  FROM d WHERE tk >= {MIN_TOKENS} AND q
  GROUP BY source
),
totals AS (
  SELECT CAST(SUM(avail_tokens) AS BIGINT) AS pool,
         COUNT(*) AS n_sources
  FROM avail
),
r1 AS (
  SELECT source, avail_tokens,
         pool // ({WATERFILL_BUDGET_DENOM} * n_sources) AS fair_share,
         pool // {WATERFILL_BUDGET_DENOM} AS budget,
         LEAST(avail_tokens,
               pool // ({WATERFILL_BUDGET_DENOM} * n_sources))
           AS alloc_round1
  FROM avail, totals
),
r1_tot AS (
  SELECT CAST(SUM(alloc_round1) AS BIGINT) AS used,
         CAST(SUM(avail_tokens - alloc_round1) AS BIGINT) AS sum_cap,
         ANY_VALUE(budget) AS budget_t
  FROM r1
),
final AS (
  SELECT r1.source, r1.avail_tokens, r1.fair_share, r1.alloc_round1,
         CASE WHEN t.sum_cap > 0
              THEN floor((t.budget_t - t.used) * 1.0
                         * (r1.avail_tokens - r1.alloc_round1) / t.sum_cap
                         * 10000.0 + 0.5) / 10000.0
              ELSE 0.0 END AS alloc_round2
  FROM r1, r1_tot t
)
SELECT source, avail_tokens, fair_share, alloc_round1, alloc_round2,
       floor((alloc_round1 + alloc_round2) * 100.0 / avail_tokens
             * 10000.0 + 0.5) / 10000.0 AS fill_pct
FROM final
ORDER BY source
"""


# --------------------------------------------------------------------------
# Filter attribution (r9) — the FineWeb/Gopher-style question "which
# rule is doing the filtering?": per quality rule, how many documents
# fail it, how many fail ONLY it (the rule's marginal contribution —
# the one to re-tune before it silently deletes a subcorpus), and the
# token mass at stake.  One corpus scan computes all flags; the
# per-rule rows come from stack()/UNION over the single aggregated row.
FILTER_DIV_FLOOR = 0.5   # distinct-token ratio
FILTER_WL_LO = 3.0       # mean word length bounds (Gopher-style)
FILTER_WL_HI = 10.0
FILTER_DIGIT_MAX = 0.2   # digit share of non-space chars


def pipeline_filter_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per filter rule: failing docs, docs failing ONLY this rule,
    failing token mass, and the failing-doc share of the corpus.
    Rules: too_short (< MIN_TOKENS), low_diversity (distinct-token
    ratio < 0.5), word_len_range (mean word length outside [3, 10]),
    digit_heavy (> 20% digit chars).

    Scale: one narrow scan computes every flag, one single-row
    aggregate, and a constant 4-row unpivot — no joins, no window."""
    d = table(spark, sf_dir, "documents")
    tk = F.expr(f"size({_TOKS})").cast("long")
    distinct = F.expr(f"size(array_distinct({_TOKS}))")
    chars_ns = F.length(F.regexp_replace("text", " ", ""))
    digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    f_short = tk < MIN_TOKENS
    # ANSI `&` does not short-circuit: the ratio must live inside a
    # when(tk > 0, ...) or an all-empty-docs corpus throws
    # DIVIDE_BY_ZERO.  DuckDB's x/0 on the same rows never passes the
    # comparison (inf/NULL), so false-on-empty matches the oracle.
    f_div = F.coalesce(
        F.when(tk > 0, distinct * F.lit(1.0) / tk < FILTER_DIV_FLOOR),
        F.lit(False),
    )
    mwl = chars_ns * F.lit(1.0) / tk
    f_wl = F.coalesce(
        F.when(tk > 0, (mwl < FILTER_WL_LO) | (mwl > FILTER_WL_HI)),
        F.lit(False),
    )
    f_digit = F.coalesce(
        F.when(
            chars_ns > 0,
            digits * F.lit(1.0) / chars_ns > FILTER_DIGIT_MAX,
        ),
        F.lit(False),
    )
    flagged = d.select(
        tk.alias("tk"),
        f_short.alias("f_short"),
        f_div.alias("f_div"),
        f_wl.alias("f_wl"),
        f_digit.alias("f_digit"),
    )

    def _cols(name: str, others: list[str]):
        f = F.col(name)
        only = f
        for o in others:
            only = only & ~F.col(o)
        return [
            F.sum(f.cast("long")).alias(f"{name}_n"),
            F.sum(only.cast("long")).alias(f"{name}_only"),
            F.sum(F.when(f, F.col("tk")).otherwise(0)).alias(f"{name}_tok"),
        ]

    names = ["f_short", "f_div", "f_wl", "f_digit"]
    aggs = [F.count("*").alias("total_docs")]
    for n in names:
        aggs += _cols(n, [o for o in names if o != n])
    one = flagged.agg(*aggs)
    labels = {
        "f_short": "too_short",
        "f_div": "low_diversity",
        "f_wl": "word_len_range",
        "f_digit": "digit_heavy",
    }
    stack = ", ".join(
        f"'{labels[n]}', {n}_n, {n}_only, {n}_tok" for n in names
    )
    return (
        one.select(
            "total_docs",
            F.expr(
                f"stack({len(names)}, {stack}) AS "
                "(rule, docs_failing, docs_only_this, tokens_failing)"
            ),
        )
        .select(
            "rule",
            "docs_failing",
            "docs_only_this",
            "tokens_failing",
            # empty-corpus guard (repo rule: every ratio guarded on its
            # own denominator; oracle carries the same CASE)
            F.when(
                F.col("total_docs") > 0,
                _fr4(F.col("docs_failing") * 100.0 / F.col("total_docs")),
            ).alias("fail_pct"),
        )
        .orderBy("rule")
    )


FILTER_ATTRIBUTION_ORACLE = f"""
WITH flags AS (
  SELECT CAST(len({_TOKS_DUCK}) AS BIGINT) AS tk,
         len(list_distinct({_TOKS_DUCK})) AS dct,
         len(replace(text, ' ', '')) AS chars_ns,
         len(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
  FROM documents
),
f AS (
  SELECT tk,
         tk < {MIN_TOKENS} AS f_short,
         tk > 0 AND dct * 1.0 / tk < {FILTER_DIV_FLOOR} AS f_div,
         tk > 0 AND (chars_ns * 1.0 / tk < {FILTER_WL_LO}
                     OR chars_ns * 1.0 / tk > {FILTER_WL_HI}) AS f_wl,
         chars_ns > 0 AND digits * 1.0 / chars_ns > {FILTER_DIGIT_MAX}
           AS f_digit
  FROM flags
),
one AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
         CAST(SUM(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS s_n,
         CAST(SUM(CASE WHEN f_short AND NOT f_div AND NOT f_wl
                        AND NOT f_digit THEN 1 ELSE 0 END) AS BIGINT) AS s_o,
         CAST(SUM(CASE WHEN f_short THEN tk ELSE 0 END) AS BIGINT) AS s_t,
         CAST(SUM(CASE WHEN f_div THEN 1 ELSE 0 END) AS BIGINT) AS d_n,
         CAST(SUM(CASE WHEN f_div AND NOT f_short AND NOT f_wl
                        AND NOT f_digit THEN 1 ELSE 0 END) AS BIGINT) AS d_o,
         CAST(SUM(CASE WHEN f_div THEN tk ELSE 0 END) AS BIGINT) AS d_t,
         CAST(SUM(CASE WHEN f_wl THEN 1 ELSE 0 END) AS BIGINT) AS w_n,
         CAST(SUM(CASE WHEN f_wl AND NOT f_short AND NOT f_div
                        AND NOT f_digit THEN 1 ELSE 0 END) AS BIGINT) AS w_o,
         CAST(SUM(CASE WHEN f_wl THEN tk ELSE 0 END) AS BIGINT) AS w_t,
         CAST(SUM(CASE WHEN f_digit THEN 1 ELSE 0 END) AS BIGINT) AS g_n,
         CAST(SUM(CASE WHEN f_digit AND NOT f_short AND NOT f_div
                        AND NOT f_wl THEN 1 ELSE 0 END) AS BIGINT) AS g_o,
         CAST(SUM(CASE WHEN f_digit THEN tk ELSE 0 END) AS BIGINT) AS g_t
  FROM f
),
rows_out AS (
  SELECT 'too_short' AS rule, s_n AS docs_failing, s_o AS docs_only_this,
         s_t AS tokens_failing, total_docs FROM one
  UNION ALL
  SELECT 'low_diversity', d_n, d_o, d_t, total_docs FROM one
  UNION ALL
  SELECT 'word_len_range', w_n, w_o, w_t, total_docs FROM one
  UNION ALL
  SELECT 'digit_heavy', g_n, g_o, g_t, total_docs FROM one
)
SELECT rule, docs_failing, docs_only_this, tokens_failing,
       CASE WHEN total_docs > 0
            THEN floor(docs_failing * 100.0 / total_docs
                       * 10000.0 + 0.5) / 10000.0
       END AS fail_pct
FROM rows_out
ORDER BY rule
"""


# --------------------------------------------------------------------------
# Keeper-aware corpus emit — the ship-ready mart the whole dedup/
# quality/curriculum stack exists to produce: one row per SURVIVING
# document (near-dup clusters collapsed to their quality-chosen
# keeper), carrying the quality signals and the curriculum position a
# trainer consumes directly.
#
# Scale shape: the drop list and the cluster-assignment relation are
# |cluster members| rows — corpus-PROPORTIONAL, not corpus-bounded
# (web-scale near-dup dedup routinely clusters 20-50% of documents,
# exactly what dedup_survivorship_funnel measures), so neither side is
# force-broadcast: both are plain equi-joins on doc_id and AQE picks
# broadcast only when runtime stats say the build side actually fits
# (spark.sql.adaptive.autoBroadcastJoinThreshold).  At sf0.01 AQE
# broadcasts them; at a 40% dup share it falls back to a shuffle join
# instead of a driver OOM.  Quality and curriculum are per-doc maps
# over the corpus sharing one scan shape; the curriculum cuts (a
# fixed quantile row) do broadcast.  The iterative cluster assignment
# is the only pre-computed input (same contract as
# pipeline_clean_corpus).
def pipeline_corpus_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The emit mart: per surviving doc — lang, token stats, quality
    bucket, curriculum phase + order key, and whether it survived as a
    near-dup cluster keeper or was unique.  Empty documents (no
    tokens) are excluded, matching the curriculum's domain."""
    from .dedup import dedup_keeper_selection
    from .textops import text_quality

    clusters = dedup_cluster_assign(spark, sf_dir)
    # pass the built clusters through so the iterative CC loop runs
    # once, not once more inside keeper selection
    keepers = dedup_keeper_selection(spark, sf_dir, clusters).select(
        "cluster_id", "keeper_id"
    )
    drops = (
        clusters.join(keepers, "cluster_id")
        .where(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id")
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    quality = text_quality(spark, sf_dir)
    phases = pipeline_curriculum_order(spark, sf_dir)
    reason = F.when(
        F.col("cluster_id").isNotNull(), F.lit("keeper")
    ).otherwise(F.lit("unique"))
    return (
        d.join(drops, "doc_id", "left_anti")
        .join(quality, "doc_id")
        .join(phases.select("doc_id", "phase", "order_key"), "doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "token_count",
            "distinct_ratio",
            "quality_bucket",
            "phase",
            "order_key",
            reason.alias("keep_reason"),
        )
        .orderBy("phase", "order_key", "doc_id")
    )


def _corpus_emit_oracle() -> str:
    from .dedup import DEDUP_KEEPER_ORACLE
    from .textops import TEXT_QUALITY_ORACLE

    return f"""
WITH clusters AS ({DEDUP_CLUSTER_ORACLE}),
keepers AS ({DEDUP_KEEPER_ORACLE.replace("ORDER BY c.cluster_id", "")}),
drops AS (
  SELECT c.doc_id
  FROM clusters c JOIN keepers k USING (cluster_id)
  WHERE c.doc_id <> k.keeper_id
),
quality AS ({TEXT_QUALITY_ORACLE.replace("ORDER BY doc_id", "")}),
phases AS ({CURRICULUM_ORACLE.replace("ORDER BY phase, order_key, doc_id", "")})
SELECT d.doc_id, d.lang, q.token_count, q.distinct_ratio,
       q.quality_bucket, p.phase, p.order_key,
       CASE WHEN c.doc_id IS NOT NULL THEN 'keeper' ELSE 'unique' END
         AS keep_reason
FROM documents d
JOIN quality q ON q.doc_id = d.doc_id
JOIN phases p ON p.doc_id = d.doc_id
LEFT JOIN clusters c ON c.doc_id = d.doc_id
WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
ORDER BY p.phase, p.order_key, d.doc_id
"""


CORPUS_EMIT_ORACLE = _corpus_emit_oracle()


# --------------------------------------------------------------------------
# Leakage-safe split — the train/val/test assignment a dedup-aware
# pipeline actually needs: hashing each DOCUMENT independently puts
# near-duplicates of a training doc into the eval split (the classic
# contamination bug).  Hashing the doc's GROUP key instead — its
# near-dup cluster id when it has one, its own id otherwise — pins
# every member of a cluster to the same split by construction.
LEAK_SPLIT_SEED = 4099


def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split report of the cluster-aware 90/5/5 assignment: docs,
    docs that belong to a near-dup cluster, and distinct hash groups.
    Cluster co-location is structural (the split is a pure function of
    the group key), and tests/test_llm_pipeline.py asserts no cluster
    spans two splits."""
    clusters = dedup_cluster_assign(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id")
    # clusters is corpus-proportional (see pipeline_corpus_emit's scale
    # note) — no forced broadcast; AQE sizes the join at runtime
    grouped = d.join(clusters, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        F.coalesce("cluster_id", "doc_id").alias("group_key"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("_", F.lit(LEAK_SPLIT_SEED), "group_key")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        grouped.select(
            split.alias("split"), "cluster_id", "group_key"
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("cluster_id").isNotNull().cast("long")).alias(
                "n_clustered_docs"
            ),
            F.countDistinct("group_key").alias("n_groups"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# Cross-split contamination audit — the MEASUREMENT that closes the
# leakage-safe-split story: after assigning splits, how much of each
# eval split's shingle mass also occurs in train?  Cluster-aware
# hashing guarantees near-DUPLICATES can't span splits, but distinct
# documents legitimately share n-grams; this audit quantifies that
# residual overlap so a training run can gate on it (a spike means
# the dedup tier in front of the split missed a template family).
def pipeline_split_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per eval split (val/test): docs, distinct 3-gram shingles,
    shingles also present in any train doc, and the containment rate.

    Scale shape: ONE corpus shingle explode feeding ONE hash-agg on
    the shingle key that folds each split's presence into a boolean
    flag (map-side combinable — the explode's raw output collapses to
    distinct shingles before it ever shuffles), then a single global
    sum unpivoted with `stack` — no distinct, no self-join, no window
    sort, one corpus scan.  Two rejected cuts, both measured: (a)
    filters before per-branch distincts — Catalyst pushes a
    grouping-key predicate below the aggregate, so the train and eval
    branches shared nothing (2 full explode executions, 0
    ReusedExchange); (b) distinct-then-window-max over the shingle
    key — one explode but the whole-partition window adds a sort by
    shingle string that costs more than the join it removed.  Never
    an all-pairs comparison."""
    from .dedup import _SHINGLES

    clusters = dedup_cluster_assign(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    grouped = d.select("doc_id", "text").join(
        clusters, "doc_id", "left"
    ).select(
        "doc_id",
        "text",
        F.coalesce("cluster_id", "doc_id").alias("group_key"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("_", F.lit(LEAK_SPLIT_SEED), "group_key")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    assigned = grouped.select("doc_id", "text", split.alias("split"))
    flags = (
        assigned.select(
            "split", F.explode(F.expr(_SHINGLES)).alias("sh")
        )
        .groupBy("sh")
        .agg(
            F.max((F.col("split") == "train").cast("long")).alias(
                "in_train"
            ),
            F.max((F.col("split") == "val").cast("long")).alias(
                "in_val"
            ),
            F.max((F.col("split") == "test").cast("long")).alias(
                "in_test"
            ),
        )
    )
    docs = (
        assigned.where(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )
    overlap = (
        flags.agg(
            F.sum("in_val").alias("val_sh"),
            F.sum(F.col("in_val") * F.col("in_train")).alias("val_hit"),
            F.sum("in_test").alias("test_sh"),
            F.sum(F.col("in_test") * F.col("in_train")).alias(
                "test_hit"
            ),
        )
        .select(
            F.expr(
                "stack(2, 'val', val_sh, val_hit, "
                "'test', test_sh, test_hit) "
                "AS (split, n_shingles, train_hit_shingles)"
            )
        )
        # a split row exists iff it has >= 1 distinct eval shingle —
        # matches the per-(split, shingle)-grain groupBy this replaces
        # (an all-train or shingle-less corpus yields NULL/0 sums
        # here, where the old shape yielded no row; without the guard
        # the NULL row survives the inner join and the 0 row divides
        # by zero, which ANSI mode throws on)
        .where(F.col("n_shingles") > 0)
    )
    return (
        docs.join(overlap, "split")
        .select(
            "split",
            "n_docs",
            "n_shingles",
            "train_hit_shingles",
            _fr4(
                F.col("train_hit_shingles") / F.col("n_shingles")
            ).alias("contamination_rate"),
        )
        .orderBy("split")
    )


def _split_contamination_oracle() -> str:
    from .dedup import _SHINGLES_DUCK

    return f"""
WITH clusters AS ({DEDUP_CLUSTER_ORACLE}),
assigned AS (
  SELECT d.doc_id, d.text,
         CASE
           WHEN CAST(concat('0x', substring(
                  md5({LEAK_SPLIT_SEED} || '_' ||
                      COALESCE(c.cluster_id, d.doc_id)), 1, 4))
                AS INTEGER) % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
           WHEN CAST(concat('0x', substring(
                  md5({LEAK_SPLIT_SEED} || '_' ||
                      COALESCE(c.cluster_id, d.doc_id)), 1, 4))
                AS INTEGER) % 100 < {SPLIT_VAL_PCT} THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
),
w AS (SELECT doc_id, split, string_split(text, ' ') AS ws FROM assigned),
sh AS (
  SELECT split, doc_id, UNNEST({_SHINGLES_DUCK}) AS sh FROM w
  WHERE len(ws) >= 3
),
train_sh AS (SELECT DISTINCT sh FROM sh WHERE split = 'train'),
eval_sh AS (SELECT DISTINCT split, sh FROM sh WHERE split <> 'train'),
docs AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM assigned WHERE split <> 'train' GROUP BY split
),
overlap AS (
  SELECT e.split,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS train_hit_shingles
  FROM eval_sh e LEFT JOIN train_sh t ON t.sh = e.sh
  GROUP BY e.split
)
SELECT d.split, d.n_docs, o.n_shingles, o.train_hit_shingles,
       floor(o.train_hit_shingles * 1.0 / o.n_shingles * 10000.0 + 0.5)
         / 10000.0 AS contamination_rate
FROM docs d JOIN overlap o ON o.split = d.split
ORDER BY d.split
"""


SPLIT_CONTAMINATION_ORACLE = _split_contamination_oracle()


LEAKAGE_SPLIT_ORACLE = f"""
WITH clusters AS ({DEDUP_CLUSTER_ORACLE}),
grouped AS (
  SELECT d.doc_id, c.cluster_id,
         COALESCE(c.cluster_id, d.doc_id) AS group_key
  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
),
assigned AS (
  SELECT cluster_id, group_key,
         CASE
           WHEN CAST(concat('0x', substring(
                  md5({LEAK_SPLIT_SEED} || '_' || group_key), 1, 4))
                AS INTEGER) % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
           WHEN CAST(concat('0x', substring(
                  md5({LEAK_SPLIT_SEED} || '_' || group_key), 1, 4))
                AS INTEGER) % 100 < {SPLIT_VAL_PCT} THEN 'val'
           ELSE 'test'
         END AS split
  FROM grouped
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clustered_docs,
       CAST(COUNT(DISTINCT group_key) AS BIGINT) AS n_groups
FROM assigned
GROUP BY split
ORDER BY split
"""


# --------------------------------------------------------------------------
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the summary block a corpus release ships
    (doc/source/lang cardinalities, token volume, exact-dup count,
    high-quality share input, median length).  One scan, one
    aggregate; the distinct counts expand the single hash-agg, not
    the scan.  Quality reuses text_quality's exact bucket predicate."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr(f"size({_TOKS})")
    ratio = F.expr(
        f"size(array_distinct({_TOKS})) * 1.0 / size({_TOKS})"
    )
    is_high = (toks >= 200) & (ratio >= 0.1)
    from ._rounding import _fr

    fr2 = lambda c: _fr(c, 2)  # noqa: E731
    return (
        d.select(
            "source",
            "lang",
            F.md5("text").alias("digest"),
            toks.cast("long").alias("tk"),
            is_high.cast("long").alias("hi"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("tk").alias("total_tokens"),
            (F.count("*") - F.countDistinct("digest")).alias("dup_docs"),
            F.sum("hi").alias("high_quality_docs"),
            fr2(F.expr("percentile(tk, 0.5)")).alias("p50_tokens"),
        )
    )


DATASET_CARD_ORACLE = f"""
WITH d AS (
  SELECT source, lang, md5(text) AS digest,
         CAST(len({_TOKS_DUCK}) AS BIGINT) AS tk,
         CASE WHEN len({_TOKS_DUCK}) >= 200
              AND len(list_distinct({_TOKS_DUCK})) * 1.0
                  / len({_TOKS_DUCK}) >= 0.1
              THEN 1 ELSE 0 END AS hi
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(tk) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) - COUNT(DISTINCT digest) AS BIGINT) AS dup_docs,
       CAST(SUM(hi) AS BIGINT) AS high_quality_docs,
       floor(quantile_cont(tk, 0.5) * 100.0 + 0.5) / 100.0 AS p50_tokens
FROM d
"""


# --------------------------------------------------------------------------
# Deterministic per-epoch shuffle manifest — multi-epoch training
# needs each epoch to see a DIFFERENT order (shuffling matters for
# convergence) that is nonetheless REPRODUCIBLE (restarts, audits,
# data-order ablations).  The order key is md5(seed, epoch, doc_id):
# a pure column map, no RNG, no global sort — trainers range-read the
# manifest sorted within output shards, so the engine never needs a
# corpus-wide ORDER BY (the presentation sort here is the oracle
# convention, cheap at report grain).
EPOCH_SHUFFLE_SEED = 271
EPOCH_COUNT = 2


def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(epoch, doc_id, shard, order_key) for EPOCH_COUNT epochs: the
    hex order key shuffles docs within each of PACK_N_SHARDS shards,
    differently per epoch.  tests/test_llm_pipeline.py pins that the
    two epochs' orders actually differ and replay identically."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    epochs = d.crossJoin(
        F.broadcast(spark.range(EPOCH_COUNT).select(F.col("id").alias("epoch")))
    )
    key = F.md5(
        F.concat_ws("_", F.lit(EPOCH_SHUFFLE_SEED), "epoch", "doc_id")
    )
    return (
        epochs.select(
            "epoch",
            "doc_id",
            F.pmod(F.col("doc_id"), F.lit(PACK_N_SHARDS)).alias("shard"),
            key.alias("order_key"),
        )
        .orderBy("epoch", "doc_id")
    )


EPOCH_SHUFFLE_ORACLE = f"""
SELECT e.epoch, d.doc_id,
       d.doc_id % {PACK_N_SHARDS} AS shard,
       md5({EPOCH_SHUFFLE_SEED} || '_' || e.epoch || '_' || d.doc_id)
         AS order_key
FROM documents d
CROSS JOIN (SELECT UNNEST(range({EPOCH_COUNT})) AS epoch) e
ORDER BY e.epoch, d.doc_id
"""


# --------------------------------------------------------------------------
def pipeline_source_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source datasheet — the "datasheets for datasets" block at
    the provenance grain a curation decision actually uses: docs,
    languages, token volume, exact-dup count WITHIN the source,
    high-quality share input, and median length.  Same one-scan
    hash-agg shape as the corpus-level pipeline_dataset_card, keyed by
    source (output rows = |sources|, tiny at any corpus size)."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr(f"size({_TOKS})")
    ratio = F.expr(
        f"size(array_distinct({_TOKS})) * 1.0 / size({_TOKS})"
    )
    is_high = (toks >= 200) & (ratio >= 0.1)
    from ._rounding import _fr

    fr2 = lambda c: _fr(c, 2)  # noqa: E731
    return (
        d.select(
            "source",
            "lang",
            F.md5("text").alias("digest"),
            toks.cast("long").alias("tk"),
            is_high.cast("long").alias("hi"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("tk").alias("total_tokens"),
            (F.count("*") - F.countDistinct("digest")).alias("dup_docs"),
            F.sum("hi").alias("high_quality_docs"),
            fr2(F.expr("percentile(tk, 0.5)")).alias("p50_tokens"),
        )
        .orderBy("source")
    )


SOURCE_CARDS_ORACLE = f"""
WITH d AS (
  SELECT source, lang, md5(text) AS digest,
         CAST(len({_TOKS_DUCK}) AS BIGINT) AS tk,
         CASE WHEN len({_TOKS_DUCK}) >= 200
              AND len(list_distinct({_TOKS_DUCK})) * 1.0
                  / len({_TOKS_DUCK}) >= 0.1
              THEN 1 ELSE 0 END AS hi
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(tk) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) - COUNT(DISTINCT digest) AS BIGINT) AS dup_docs,
       CAST(SUM(hi) AS BIGINT) AS high_quality_docs,
       floor(quantile_cont(tk, 0.5) * 100.0 + 0.5) / 100.0 AS p50_tokens
FROM d
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# Temperature-based mixture resampling (the multilingual-LM recipe:
# sample language i with probability ∝ n_i^α, α < 1 up-weighting the
# tail — XLM-R/mC4 use α ≈ 0.3).  α is pinned to 1/2 here because
# sqrt is CORRECTLY ROUNDED under IEEE-754 on both engines, so
# floor(sqrt(n)) is bit-identical cross-engine where a pow(n, 0.3)
# rate could flip an integer floor by one ulp; everything downstream
# is exact integer arithmetic (scaled DIV allocations, md5 gate).
TEMP_MIX_SEED = 11


def pipeline_temperature_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language α=0.5 temperature mixture: raw count, the sqrt
    weight, the integer target allocation (total · w_i DIV Σw), the
    derived keep rate, and the docs actually kept by the md5 gate."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    weights = counts.select(
        "lang",
        "n_docs",
        F.expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)").alias(
            "w"
        ),
    )
    totals = weights.agg(
        F.sum("n_docs").alias("total"), F.sum("w").alias("sum_w")
    )
    rates = weights.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        "w",
        F.expr("(total * w) DIV sum_w").alias("target_docs"),
        F.least(
            F.lit(100).cast("long"),
            F.expr("(((total * w) DIV sum_w) * 100) DIV n_docs"),
        )
        .cast("int")
        .alias("rate_pct"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.lit(TEMP_MIX_SEED), "doc_id")), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    # r12 (ADVICE): LEFT join the kept counts back onto the rates
    # table so a language whose md5 gate kept zero docs still reports
    # n_kept=0 — an inner join here made "all kept 0" indistinguishable
    # from "language missing", and downstream totals silently dropped
    # the row.
    kept = (
        d.select("lang", bucket.alias("bucket"))
        .join(F.broadcast(rates.select("lang", "rate_pct")), "lang")
        .where(F.col("bucket") < F.col("rate_pct"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "w",
            "target_docs",
            "rate_pct",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
        .orderBy("lang")
    )


TEMPERATURE_MIXTURE_ORACLE = f"""
WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
w AS (SELECT lang, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
      FROM c),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
             CAST(SUM(w) AS BIGINT) AS sum_w FROM w),
r AS (
  SELECT lang, n_docs, w,
         (total * w) // sum_w AS target_docs,
         CAST(LEAST(100, (((total * w) // sum_w) * 100) // n_docs)
              AS INTEGER) AS rate_pct
  FROM w, t
),
s AS (
  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM documents d JOIN r USING (lang)
  WHERE CAST(concat('0x', substring(md5({TEMP_MIX_SEED} || '_' || d.doc_id), 1, 4))
             AS INTEGER) % 100 < r.rate_pct
  GROUP BY d.lang
)
SELECT r.lang, r.n_docs, r.w, r.target_docs, r.rate_pct,
       CAST(COALESCE(s.n_kept, 0) AS BIGINT) AS n_kept
FROM r LEFT JOIN s USING (lang)
ORDER BY lang
"""


QUERIES = {
    "pipeline_clean_corpus": pipeline_clean_corpus,
    "pipeline_mixture_reweight": pipeline_mixture_reweight,
    "pipeline_corpus_emit": pipeline_corpus_emit,
    "pipeline_leakage_safe_split": pipeline_leakage_safe_split,
    "pipeline_dataset_card": pipeline_dataset_card,
    "pipeline_training_examples": pipeline_training_examples,
    "pipeline_stratified_sample": pipeline_stratified_sample,
    "pipeline_pack_sequences": pipeline_pack_sequences,
    "pipeline_pack_attention_spans": pipeline_pack_attention_spans,
    "pipeline_packing_efficiency": pipeline_packing_efficiency,
    "pipeline_mixture_waterfill": pipeline_mixture_waterfill,
    "pipeline_filter_attribution": pipeline_filter_attribution,
    "pipeline_split_contamination": pipeline_split_contamination,
    "pipeline_source_cards": pipeline_source_cards,
    "pipeline_epoch_shuffle": pipeline_epoch_shuffle,
    "pipeline_domain_mixture": pipeline_domain_mixture,
    "pipeline_train_val_test": pipeline_train_val_test,
    "pipeline_per_group_sample": pipeline_per_group_sample,
    "pipeline_feature_hash_profile": pipeline_feature_hash_profile,
    "pipeline_length_buckets": pipeline_length_buckets,
    "pipeline_curriculum_order": pipeline_curriculum_order,
    "pipeline_weighted_sample": pipeline_weighted_sample,
    "pipeline_temperature_mixture": pipeline_temperature_mixture,
}
ORACLE = {
    "pipeline_clean_corpus": PIPELINE_ORACLE,
    "pipeline_mixture_reweight": MIXTURE_REWEIGHT_ORACLE,
    "pipeline_corpus_emit": CORPUS_EMIT_ORACLE,
    "pipeline_leakage_safe_split": LEAKAGE_SPLIT_ORACLE,
    "pipeline_dataset_card": DATASET_CARD_ORACLE,
    "pipeline_training_examples": TRAINING_EXAMPLES_ORACLE,
    "pipeline_stratified_sample": STRATIFIED_SAMPLE_ORACLE,
    "pipeline_pack_sequences": PACK_SEQUENCES_ORACLE,
    "pipeline_pack_attention_spans": PACK_ATTENTION_SPANS_ORACLE,
    "pipeline_packing_efficiency": PACKING_EFFICIENCY_ORACLE,
    "pipeline_mixture_waterfill": MIXTURE_WATERFILL_ORACLE,
    "pipeline_filter_attribution": FILTER_ATTRIBUTION_ORACLE,
    "pipeline_split_contamination": SPLIT_CONTAMINATION_ORACLE,
    "pipeline_source_cards": SOURCE_CARDS_ORACLE,
    "pipeline_epoch_shuffle": EPOCH_SHUFFLE_ORACLE,
    "pipeline_domain_mixture": DOMAIN_MIXTURE_ORACLE,
    "pipeline_train_val_test": TRAIN_VAL_TEST_ORACLE,
    "pipeline_per_group_sample": PER_GROUP_SAMPLE_ORACLE,
    "pipeline_feature_hash_profile": FEATURE_HASH_ORACLE,
    "pipeline_length_buckets": LENGTH_BUCKETS_ORACLE,
    "pipeline_curriculum_order": CURRICULUM_ORACLE,
    "pipeline_weighted_sample": WEIGHTED_SAMPLE_ORACLE,
    "pipeline_temperature_mixture": TEMPERATURE_MIXTURE_ORACLE,
}
