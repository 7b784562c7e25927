"""Text analysis over `documents` — language-ID heuristic, quality
scoring, token counting, document fingerprinting (north-star surface,
BASELINE.json).

Everything is built-in string/array higher-order functions — JVM-side,
whole-stage-codegen'd, no Python in the hot path.  Per-document outputs
are wide scans with zero shuffle; rollups shuffle only tiny group
cardinalities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import table
from ._rounding import _fr, _fr4

# tokens: split on single space, drop empties (both engines agree).
_TOKS = "filter(split(text, ' '), t -> t <> '')"
_TOKS_DUCK = "list_filter(string_split(text, ' '), t -> t <> '')"

_EN_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_LIST = ", ".join(f"'{w}'" for w in _EN_STOPWORDS)


# --------------------------------------------------------------------------
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics (token counting capability)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.expr(f"size({_TOKS})").alias("token_count"),
            F.expr(f"size(array_distinct({_TOKS}))").alias("distinct_tokens"),
            F.length("text").alias("char_count"),
            "n_chars",
        )
        .orderBy("doc_id")
    )


TEXT_STATS_ORACLE = f"""
SELECT doc_id,
       CAST(len({_TOKS_DUCK}) AS INTEGER) AS token_count,
       CAST(len(list_distinct({_TOKS_DUCK})) AS INTEGER) AS distinct_tokens,
       CAST(length(text) AS INTEGER) AS char_count,
       n_chars
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def text_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup."""
    d = table(spark, sf_dir, "documents")
    # Both averages are ratios of exact BIGINTs, so round-half-up at
    # 2 dp is exact INTEGER arithmetic: (200*s + c) DIV (2*c) — no
    # double ever sees a halfway value, unlike rounding the double avg
    # whose tie-break differs between Spark (half-up) and DuckDB
    # (half-even) on exactly-representable halves.
    def _avg2(sum_col: str, cnt_col: str):
        return (
            F.expr(f"(200 * {sum_col} + {cnt_col}) DIV (2 * {cnt_col})")
            / F.lit(100.0)
        )

    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_chars").alias("_sc"),
            F.sum(F.expr(f"size({_TOKS})")).alias("_st"),
        )
        .select(
            "lang",
            "doc_count",
            _avg2("_sc", "doc_count").alias("avg_chars"),
            _avg2("_st", "doc_count").alias("avg_tokens"),
        )
        .orderBy("lang")
    )


TEXT_LANG_ORACLE = f"""
SELECT lang,
       COUNT(*) AS doc_count,
       ((200 * SUM(n_chars) + COUNT(*)) // (2 * COUNT(*))) / 100.0
         AS avg_chars,
       ((200 * SUM(len({_TOKS_DUCK})) + COUNT(*)) // (2 * COUNT(*))) / 100.0
         AS avg_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length + lexical-diversity heuristic
    (reference CASE-bin pattern — spark_eda.py:161-166 — applied to the
    training-data quality-filter use case)."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr(f"size({_TOKS})")
    distinct = F.expr(f"size(array_distinct({_TOKS}))")
    # empty doc → NULL ratio in BOTH engines: DuckDB yields NULL on
    # x/0 where Spark ANSI throws, so the guard IS the parity (the
    # doc still rows out as quality_bucket = 'low').
    ratio = F.when(toks > 0, distinct * F.lit(1.0) / toks)
    bucket = (
        F.when((toks >= 200) & (ratio >= 0.1), "high")
        .when(toks >= 50, "medium")
        .otherwise("low")
    )
    return (
        d.select(
            "doc_id",
            toks.alias("token_count"),
            (
                F.floor(ratio * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("distinct_ratio"),
            bucket.alias("quality_bucket"),
        )
        .orderBy("doc_id")
    )


TEXT_QUALITY_ORACLE = f"""
SELECT doc_id,
       CAST(len({_TOKS_DUCK}) AS INTEGER) AS token_count,
       floor(len(list_distinct({_TOKS_DUCK})) * 1.0 / len({_TOKS_DUCK})
             * 10000.0 + 0.5) / 10000.0
         AS distinct_ratio,
       CASE
         WHEN len({_TOKS_DUCK}) >= 200
              AND len(list_distinct({_TOKS_DUCK})) * 1.0 / len({_TOKS_DUCK}) >= 0.1
           THEN 'high'
         WHEN len({_TOKS_DUCK}) >= 50 THEN 'medium'
         ELSE 'low'
       END AS quality_bucket
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# the classifier under BOTH text_langid and its confusion matrix —
# one definition so retuning the thresholds can't silently leave the
# evaluation measuring a different classifier than the one shipped
# (expression strings, not Columns: building a Column at import time
# needs an active SparkContext)
_LANGID_HITS = f"size(filter({_TOKS}, t -> t IN ({_STOP_LIST})))"


def _langid_cols():
    hits = F.expr(_LANGID_HITS)
    predicted = (
        F.when(hits >= 3, "en").when(hits >= 1, "en-maybe").otherwise("unknown")
    )
    return hits, predicted


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID by stopword hits (n-gram/stopword-vote
    heuristic; real corpora would carry per-language stopword sets —
    deterministic and engine-portable here)."""
    d = table(spark, sf_dir, "documents")
    hits, predicted = _langid_cols()
    return (
        d.select(
            "doc_id",
            hits.alias("en_stopword_hits"),
            predicted.alias("predicted_lang"),
            "lang",
        )
        .orderBy("doc_id")
    )


TEXT_LANGID_ORACLE = f"""
SELECT doc_id,
       CAST(len(list_filter({_TOKS_DUCK}, t -> t IN ({_STOP_LIST}))) AS INTEGER)
         AS en_stopword_hits,
       CASE
         WHEN len(list_filter({_TOKS_DUCK}, t -> t IN ({_STOP_LIST}))) >= 3 THEN 'en'
         WHEN len(list_filter({_TOKS_DUCK}, t -> t IN ({_STOP_LIST}))) >= 1 THEN 'en-maybe'
         ELSE 'unknown'
       END AS predicted_lang,
       lang
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Classifier-evaluation capability: the confusion matrix of the
# heuristic language-ID against the labelled `lang` column, with
# per-cell share of the labelled class (row-normalized recall view).
# One projection + one hash-agg at the (label, prediction) grain —
# the evaluation pattern for ANY cheap classifier audited at corpus
# scale.  Shares use the floor(x·1e4+0.5)/1e4 recipe.
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, predicted_lang) confusion cells: count and share of the
    labelled class."""
    d = table(spark, sf_dir, "documents")
    _, predicted = _langid_cols()
    cells = d.select("lang", predicted.alias("predicted_lang")).groupBy(
        "lang", "predicted_lang"
    ).agg(F.count("*").alias("n_docs"))
    class_tot = cells.groupBy("lang").agg(F.sum("n_docs").alias("class_total"))
    return (
        cells.join(F.broadcast(class_tot), "lang")
        .select(
            "lang",
            "predicted_lang",
            "n_docs",
            (
                F.floor(
                    F.col("n_docs") * 100.0 / F.col("class_total") * 10000.0
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("class_share_pct"),
        )
        .orderBy("lang", "predicted_lang")
    )


TEXT_LANGID_CONF_ORACLE = f"""
WITH cells AS (
  SELECT lang,
         CASE
           WHEN len(list_filter({_TOKS_DUCK}, t -> t IN ({_STOP_LIST}))) >= 3
             THEN 'en'
           WHEN len(list_filter({_TOKS_DUCK}, t -> t IN ({_STOP_LIST}))) >= 1
             THEN 'en-maybe'
           ELSE 'unknown'
         END AS predicted_lang
  FROM documents
),
agg AS (
  SELECT lang, predicted_lang, COUNT(*) AS n_docs
  FROM cells GROUP BY lang, predicted_lang
),
tot AS (SELECT lang, SUM(n_docs) AS class_total FROM agg GROUP BY lang)
SELECT lang, predicted_lang, CAST(n_docs AS BIGINT) AS n_docs,
       floor(n_docs * 100.0 / class_total * 10000.0 + 0.5) / 10000.0
         AS class_share_pct
FROM agg JOIN tot USING (lang)
ORDER BY lang, predicted_lang
"""


# --------------------------------------------------------------------------
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional polynomial fingerprint (rolling-hash family): a
    64-bit-safe deterministic digest computed identically by both
    engines — Σ_i i · (31·len(tok_i) + ascii(tok_i[0]))."""
    d = table(spark, sf_dir, "documents")
    fp = F.expr(
        f"""aggregate(
              zip_with(sequence(1, size({_TOKS})), {_TOKS},
                       (i, t) -> CAST(i AS BIGINT) * (31 * length(t) + coalesce(ascii(t), 0))),
              CAST(0 AS BIGINT), (acc, x) -> acc + x)"""
    )
    return d.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


TEXT_FP_ORACLE = f"""
SELECT doc_id,
       CAST(COALESCE(list_sum(
         list_transform(range(1, len({_TOKS_DUCK}) + 1),
           i -> i * (31 * length({_TOKS_DUCK}[i]) + COALESCE(ascii({_TOKS_DUCK}[i]), 0)))
       ), 0) AS BIGINT) AS fingerprint
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide word-bigram frequencies, top 50 (n-gram extraction
    capability; explode → hash-agg with map-side combine, grouping
    cardinality = vocabulary², tiny relative to corpus)."""
    d = table(spark, sf_dir, "documents")
    # zip_with over two slice()s of the token array: each element pairs
    # adjacent tokens without indexed lookups — the indexed-transform
    # form re-evaluated split(text) per index (projection collapse,
    # same pitfall as the shingle scan in operators/dedup.py).
    bigrams = d.select(
        F.explode(
            F.expr(
                """CASE WHEN size(split(text, ' ')) >= 2 THEN
                     zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
                              slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
                              (a, b) -> concat_ws(' ', a, b))
                   ELSE array() END"""
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.col("occurrences").desc(), F.col("bigram"))
        .limit(50)
    )


TEXT_BIGRAM_ORACLE = """
WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
b AS (
  SELECT UNNEST(list_transform(range(1, greatest(len(ws), 1)),
                i -> ws[i] || ' ' || ws[i+1])) AS bigram
  FROM w WHERE len(ws) >= 2
)
SELECT bigram, COUNT(*) AS occurrences
FROM b
GROUP BY bigram
ORDER BY occurrences DESC, bigram
LIMIT 50
"""


# --------------------------------------------------------------------------
# PMI-style collocation mining: bigrams ranked by association strength
# (lift = c_xy·N / (c_x·c_y)) rather than raw frequency — the measure
# that surfaces "new york" over "of the".  Classic corpus-analysis op;
# text_bigram_topk above is the frequency view of the same extraction.
#
# Determinism: PMI is log(lift), and log is a libm call the engines
# round differently — but log is monotone, so RANKING by lift is
# ranking by PMI.  Numerator and denominator are computed as EXACT
# DECIMAL(38,0) products — never bare BIGINT: at corpus scale
# (n_tokens ~1e13, hot counts ~1e9) c_xy·N overflows int64, which
# Spark (non-ANSI) wraps silently while DuckDB raises — then each side
# is cast once to double (correctly rounded in both engines) for one
# division with identical operation order.  The final 4dp round uses
# the floor(x·1e4 + 0.5)/1e4 form (w10's halfway-case lesson).
#
# Scale: two hash-aggs (vocab / vocab² cardinality), the count joins
# key on tokens (vocab-sized build sides, AQE decides broadcast), and
# the top-20 is TakeOrdered — no global sort of the bigram grain.
PMI_MIN_COUNT = 5


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams by lift (min count 5): bigram, count, lift 4dp."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    # total derives from the unigram table (Σc) — never a second
    # corpus scan; at 100 TB the corpus is read twice total (once for
    # unigrams, once for bigrams), everything else is vocab-sized
    total = uni.agg(F.sum("c").alias("n_tokens"))
    bigrams = d.select(
        F.explode(
            F.expr(
                """CASE WHEN size(split(text, ' ')) >= 2 THEN
                     zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
                              slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
                              (a, b) -> concat_ws(' ', a, b))
                   ELSE array() END"""
            )
        ).alias("bigram")
    )
    bi = (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
        .where(F.col("c_xy") >= PMI_MIN_COUNT)
    )
    parts = bi.select(
        "bigram",
        "c_xy",
        F.split("bigram", " ").getItem(0).alias("w1"),
        F.split("bigram", " ").getItem(1).alias("w2"),
    )
    joined = (
        parts.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(total))
    )
    num = (
        F.col("c_xy").cast("decimal(19,0)") * F.col("n_tokens").cast("decimal(19,0)")
    ).cast("double")
    den = (
        F.col("c_x").cast("decimal(19,0)") * F.col("c_y").cast("decimal(19,0)")
    ).cast("double")
    lift = num / den
    return (
        joined.select(
            "bigram",
            "c_xy",
            (F.floor(lift * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
                "lift"
            ),
        )
        .orderBy(F.col("lift").desc(), "bigram")
        .limit(20)
    )


TEXT_PMI_ORACLE = f"""
WITH toks AS (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents),
uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
total AS (SELECT COUNT(*) AS n_tokens FROM toks),
wlists AS (SELECT string_split(text, ' ') AS ws FROM documents),
b AS (
  SELECT UNNEST(list_transform(range(1, greatest(len(ws), 1)),
                i -> ws[i] || ' ' || ws[i+1])) AS bigram
  FROM wlists WHERE len(ws) >= 2
),
bi AS (
  SELECT bigram, COUNT(*) AS c_xy FROM b
  GROUP BY bigram HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
parts AS (
  SELECT bigram, c_xy,
         string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2
  FROM bi
)
SELECT bigram, c_xy,
       floor(CAST(CAST(c_xy AS DECIMAL(19,0)) * CAST(n_tokens AS DECIMAL(19,0))
                  AS DOUBLE)
             / CAST(CAST(cx.c AS DECIMAL(19,0)) * CAST(cy.c AS DECIMAL(19,0))
                    AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS lift
FROM parts
JOIN uni cx ON parts.w1 = cx.w
JOIN uni cy ON parts.w2 = cy.w
CROSS JOIN total
ORDER BY lift DESC, bigram
LIMIT 20
"""


# --------------------------------------------------------------------------
def text_regex_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenization: regex splits words from punctuation/digit
    runs (the pre-tokenizer shape BPE vocabularies use), counted per
    document.  Portable regex subset shared with the oracle."""
    d = table(spark, sf_dir, "documents")
    pat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
    return (
        d.select(
            "doc_id",
            F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")).alias(
                "bpe_token_count"
            ),
            F.size(
                F.array_distinct(F.expr(f"regexp_extract_all(text, '{pat}', 0)"))
            ).alias("bpe_vocab_size"),
        )
        .orderBy("doc_id")
    )


TEXT_REGEX_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER)
         AS bpe_token_count,
       CAST(len(list_distinct(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS INTEGER)
         AS bpe_vocab_size
FROM documents
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals per document (the filter
    battery large-corpus pipelines run before training): duplicate-token
    ratio, most-frequent-token share, duplicate-bigram ratio, mean word
    length, symbol-to-char ratio, and a keep/drop verdict.

    Two pieces, both shuffle-light: the array signals are per-row HOFs
    (zero shuffle); the top-token share needs real term frequencies, so
    tokens explode into a (doc_id, token) partial-aggregated count —
    map-side combine collapses each partition to its distinct tokens
    before the doc_id shuffle, and the re-join is on the same doc_id
    key."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr(_TOKS)
    n = F.size(toks)
    # slice length clamps at 0 (Spark throws on negative slice length
    # for an empty doc); every ratio is NULL-guarded on its own
    # denominator because DuckDB yields NULL on x/0 where Spark ANSI
    # throws — the when() guards ARE the cross-engine parity for
    # empty / one-token / empty-text degenerate docs (the oracle's
    # bigram denominator carries the matching NULLIF(GREATEST(...))).
    # Empty docs additionally drop entirely: they explode no tokens,
    # so the top_share inner join has no row for them in either
    # engine.
    bigrams = F.expr(
        f"zip_with(slice({_TOKS}, 1, greatest(size({_TOKS}) - 1, 0)),"
        f" slice({_TOKS}, 2, greatest(size({_TOKS}) - 1, 0)),"
        " (a, b) -> concat(a, ' ', b))"
    )
    row_sig = d.select(
        "doc_id",
        n.alias("token_count"),
        F.when(
            n > 0,
            F.floor((1 - F.size(F.array_distinct(toks)) / n) * F.lit(10000.0) + F.lit(0.5))
            / F.lit(10000.0),
        ).alias("dup_token_ratio"),
        F.when(
            F.size(bigrams) > 0,
            F.floor(
                (1 - F.size(F.array_distinct(bigrams)) / F.size(bigrams))
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0),
        ).alias("dup_bigram_ratio"),
        F.when(
            n > 0,
            F.floor(
                F.expr(f"aggregate({_TOKS}, 0L, (acc, t) -> acc + length(t))")
                / n
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0),
        ).alias("mean_word_len"),
        F.when(
            F.length("text") > 0,
            F.floor(
                F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
                / F.length("text")
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0),
        ).alias("symbol_ratio"),
    )
    top_share = (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg((F.max("cnt") / F.sum("cnt")).alias("raw_share"))
        .select(
            "doc_id",
            (
                F.floor(F.col("raw_share") * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("top_token_share"),
        )
    )
    return (
        row_sig.join(top_share, "doc_id")
        .withColumn(
            "keep",
            (F.col("dup_token_ratio") <= 0.5)
            & (F.col("dup_bigram_ratio") <= 0.3)
            & (F.col("top_token_share") <= 0.2)
            & F.col("mean_word_len").between(2, 12)
            & (F.col("symbol_ratio") <= 0.25),
        )
        .orderBy("doc_id")
    )


TEXT_GOPHER_ORACLE = f"""
WITH row_sig AS (
  SELECT doc_id,
         CAST(len({_TOKS_DUCK}) AS INTEGER) AS token_count,
         floor((1 - len(list_distinct({_TOKS_DUCK})) * 1.0 / len({_TOKS_DUCK}))
               * 10000.0 + 0.5) / 10000.0 AS dup_token_ratio,
         floor((1 - len(list_distinct(
                 list_transform(range(1, len({_TOKS_DUCK})),
                   i -> {_TOKS_DUCK}[i] || ' ' || {_TOKS_DUCK}[i + 1]))) * 1.0
               / NULLIF(GREATEST(len({_TOKS_DUCK}) - 1, 0), 0))
               * 10000.0 + 0.5) / 10000.0
           AS dup_bigram_ratio,
         floor(list_sum(list_transform({_TOKS_DUCK}, t -> length(t))) * 1.0
               / len({_TOKS_DUCK}) * 10000.0 + 0.5) / 10000.0
           AS mean_word_len,
         floor(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
               / length(text) * 10000.0 + 0.5) / 10000.0 AS symbol_ratio
  FROM documents
),
top_share AS (
  SELECT doc_id,
         floor(MAX(cnt) * 1.0 / SUM(cnt) * 10000.0 + 0.5) / 10000.0
           AS top_token_share
  FROM (
    SELECT doc_id, tok, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM documents)
    GROUP BY doc_id, tok
  )
  GROUP BY doc_id
)
SELECT r.doc_id, r.token_count, r.dup_token_ratio, r.dup_bigram_ratio,
       r.mean_word_len, r.symbol_ratio, t.top_token_share,
       (r.dup_token_ratio <= 0.5 AND r.dup_bigram_ratio <= 0.3
        AND t.top_token_share <= 0.2 AND r.mean_word_len BETWEEN 2 AND 12
        AND r.symbol_ratio <= 0.25) AS keep
FROM row_sig r JOIN top_share t USING (doc_id)
ORDER BY r.doc_id
"""


# --------------------------------------------------------------------------
# PII scrubbing: regex redaction of emails / phone numbers / long
# numeric ids — a standard pre-training cleanup pass.  The synthetic
# corpus contains no digits at all, so the query first APPENDS
# deterministic PII spans derived from doc_id (identically in both
# engines) and then scrubs them: the operator under test is the
# scrub + count, the synthesis is just a portable fixture.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{4}\b"
_PII_LONGID = r"\b\d{6,}\b"

# identical text expression in Spark SQL and DuckDB dialects.
_PII_AUG_SPARK = (
    "concat(text, ' Contact user', cast(doc_id as string), "
    "'@example.com or call 555-', "
    "lpad(cast(pmod(doc_id, 10000) as string), 4, '0'), "
    "', ref ', cast(doc_id + 100000 as string), '.')"
)
_PII_AUG_DUCK = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com or call 555-' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "|| ', ref ' || CAST(doc_id + 100000 AS VARCHAR) || '.'"
)


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII redaction report: counts of each PII class
    found and the md5 of the scrubbed text (emails → [EMAIL], phones →
    [PHONE], 6+-digit ids → [ID], applied in that order so an email's
    local-part digits are gone before the id pass).

    Scale: narrow per-row map — regexes run JVM-side inside
    whole-stage codegen, no shuffle, no Python.  At 100 TB this is a
    pure scan whose cost is bounded by the regex engine, the shape a
    scrub pass must have."""
    d = table(spark, sf_dir, "documents")
    aug = F.expr(_PII_AUG_SPARK)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, F.lit(_PII_EMAIL), F.lit("[EMAIL]")),
            F.lit(_PII_PHONE),
            F.lit("[PHONE]"),
        ),
        F.lit(_PII_LONGID),
        F.lit("[ID]"),
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.regexp_count(aug, F.lit(_PII_EMAIL)).cast("long").alias("n_email"),
            F.regexp_count(
                F.regexp_replace(aug, F.lit(_PII_EMAIL), F.lit("[EMAIL]")),
                F.lit(_PII_PHONE),
            )
            .cast("long")
            .alias("n_phone"),
            F.md5(clean).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


TEXT_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, lang, {_PII_AUG_DUCK} AS t FROM documents
),
step AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
         regexp_replace(t, '{_PII_EMAIL}', '[EMAIL]', 'g') AS t1
  FROM aug
)
SELECT doc_id, lang, n_email,
       CAST(len(regexp_extract_all(t1, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
       md5(regexp_replace(regexp_replace(t1, '{_PII_PHONE}', '[PHONE]', 'g'),
                          '{_PII_LONGID}', '[ID]', 'g')) AS clean_md5
FROM step
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design table: the top-100 vocabulary entries by corpus
    frequency with each prefix's cumulative share of all tokens — the
    curve a BPE/vocab-size decision reads off ("how much of the corpus
    do the first N entries cover?").

    Scale shape: explode → hash-agg collapses the corpus to VOCABULARY
    cardinality (bounded by language, not data size — millions of rows
    at 100 TB, not billions), map-side partial combine does the heavy
    lifting.  Only then does the unpartitioned cumulative window run —
    on the vocab-sized aggregate, never on the corpus.  The total-token
    scalar rides in on a broadcast cross join of a 1-row aggregate.
    cum_share divides exact longs as doubles — bit-identical across
    engines, rounded with the floor recipe (dyadic halfway values like
    cum/total = k/2^m are representable, where the engines' ROUNDs
    disagree).
    """
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.expr(_TOKS)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("occurrences"))
    )
    total = counts.agg(F.sum("occurrences").alias("total_tokens"))
    w = (
        Window.orderBy(F.col("occurrences").desc(), F.col("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("occurrences").desc(), F.col("token")))
            .alias("rank"),
            "token",
            "occurrences",
            (
                F.floor(
                    F.sum("occurrences").over(w)
                    / F.col("total_tokens")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("cum_share"),
        )
        .where(F.col("rank") <= 100)
        .orderBy("rank")
    )


TEXT_VOCAB_ORACLE = f"""
WITH t AS (SELECT UNNEST({_TOKS_DUCK}) AS token FROM documents),
c AS (SELECT token, COUNT(*) AS occurrences FROM t GROUP BY token),
w AS (
  SELECT token, occurrences,
         CAST(ROW_NUMBER() OVER (ORDER BY occurrences DESC, token) AS INTEGER) AS rank,
         SUM(occurrences) OVER (ORDER BY occurrences DESC, token
                                ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(occurrences) OVER () AS total
  FROM c
)
SELECT rank, token, occurrences,
       floor(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS cum_share
FROM w
WHERE rank <= 100
ORDER BY rank
"""


# --------------------------------------------------------------------------
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality scoring: each document's mean unigram
    log-probability under the corpus's own unigram language model (the
    KenLM-style perplexity filter, reduced to its order-1 core) — low
    scores mean rare-token-heavy documents, the standard signal for
    gibberish or boilerplate.

    Scale shape: the model IS a vocab-sized frequency table computed
    from the corpus (self-supervised, no external artifact); the
    corpus-sized token stream joins to it on token — vocab is bounded,
    so at 100 TB that's a broadcast-shaped join (AQE decides locally) —
    and re-aggregates to doc grain.  Determinism: per-token log-probs
    are cast to DECIMAL(18,9) before summing, so the per-doc sum is
    exact and partition-order-free; only then one double division."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(_TOKS)).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("total"))
    scored = (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.log(F.col("cnt") / F.col("total"))
            .cast("decimal(18,9)")
            .alias("logp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("logp").alias("s"))
        .select(
            "doc_id",
            "n_tokens",
            # floor recipe, not ROUND: the ratio is a double, and an
            # exact-halfway value at 4 dp would round up in Spark but
            # to-even in DuckDB (signed semantics documented in
            # _rounding._fr4)
            _fr4(F.col("s").cast("double") / F.col("n_tokens")).alias(
                "avg_logp"
            ),
        )
        .orderBy("doc_id")
    )


TEXT_UNIGRAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_TOKS_DUCK}) AS token FROM documents
),
freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
scored AS (
  SELECT doc_id,
         CAST(ln(CAST(cnt AS DOUBLE) / total) AS DECIMAL(18,9)) AS logp
  FROM tok JOIN freq USING (token), tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       floor(CAST(SUM(logp) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5)
         / 10000.0 AS avg_logp
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Cross-split LM drift (r9): fit the order-1 LM on the TRAIN split and
# measure the VAL split's cross-entropy under it — the canonical
# distribution-shift / contamination gauge (a val split whose tokens
# are much cheaper than train's own entropy is leaking; much dearer
# means the split hash is biased).  Composes the pipeline split hash
# with the unigram-LM join above; add-1 smoothing reserves mass for
# OOV tokens so the log never sees a zero.
def text_split_xentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language cross-entropy (nats/token) of val-split tokens
    under the train-split add-1-smoothed unigram LM, with the OOV
    share.  p(w) = (cnt_train(w) + 1) / (T + V + 1).

    Scale shape: ONE corpus token explode aggregated to (token, lang,
    split-conditional counts); the train frequency table and the val
    evaluation both derive from that aggregate, so no second corpus
    scan (the r8 plan-reuse rule).  Per-token log-probs weight-summed
    as DECIMAL(18,9)·count — exact, partition-order-free."""
    from ._splits import SPLIT_SEED, SPLIT_TRAIN_PCT, SPLIT_VAL_PCT

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
    tok = d.select(
        split.alias("split"), "lang", F.explode(F.expr(_TOKS)).alias("token")
    ).where(F.col("split") != "test")
    g = tok.groupBy("token", "lang").agg(
        F.sum((F.col("split") == "train").cast("long")).alias("c_tr"),
        F.sum((F.col("split") == "val").cast("long")).alias("c_va"),
    )
    freq = g.groupBy("token").agg(F.sum("c_tr").alias("cnt"))
    tot = freq.agg(
        F.sum("cnt").alias("t_tokens"),
        F.sum((F.col("cnt") > 0).cast("long")).alias("v_vocab"),
    )
    p = (F.col("cnt") + F.lit(1.0)) / (
        F.col("t_tokens") + F.col("v_vocab") + F.lit(1.0)
    )
    scored = (
        g.where(F.col("c_va") > 0)
        .join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "c_va",
            (F.col("c_va") * (-F.log(p)).cast("decimal(18,9)")).alias("wl"),
            ((F.col("cnt") == 0).cast("long") * F.col("c_va")).alias("oov"),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.sum("c_va").alias("n_val_tokens"),
            F.sum("oov").alias("oov_tokens"),
            F.sum("wl").alias("s"),
        )
        .select(
            "lang",
            "n_val_tokens",
            "oov_tokens",
            _fr4(
                F.col("oov_tokens") * 100.0 / F.col("n_val_tokens")
            ).alias("oov_pct"),
            _fr4(F.col("s").cast("double") / F.col("n_val_tokens")).alias(
                "xent_nats"
            ),
        )
        .orderBy("lang")
    )


def _split_xent_oracle() -> str:
    from ._splits import SPLIT_SEED, SPLIT_TRAIN_PCT, SPLIT_VAL_PCT

    b = (
        f"CAST(concat('0x', substring(md5({SPLIT_SEED} || '_' || doc_id), "
        "1, 4)) AS INTEGER) % 100"
    )
    return f"""
WITH tok AS (
  SELECT CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN {b} < {SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         lang, UNNEST({_TOKS_DUCK}) AS token
  FROM documents
),
g AS (
  SELECT token, lang,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS c_tr,
         CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
           AS c_va
  FROM tok WHERE split <> 'test'
  GROUP BY token, lang
),
freq AS (
  SELECT token, CAST(SUM(c_tr) AS BIGINT) AS cnt FROM g GROUP BY token
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS t_tokens,
         CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_vocab
  FROM freq
),
scored AS (
  SELECT g.lang, g.c_va,
         g.c_va * CAST(-ln((freq.cnt + 1.0) / (t.t_tokens + t.v_vocab + 1.0))
                       AS DECIMAL(18,9)) AS wl,
         CASE WHEN freq.cnt = 0 THEN g.c_va ELSE 0 END AS oov
  FROM g JOIN freq USING (token), tot t
  WHERE g.c_va > 0
)
SELECT lang,
       CAST(SUM(c_va) AS BIGINT) AS n_val_tokens,
       CAST(SUM(oov) AS BIGINT) AS oov_tokens,
       floor(SUM(oov) * 100.0 / SUM(c_va) * 10000.0 + 0.5) / 10000.0
         AS oov_pct,
       floor(CAST(SUM(wl) AS DOUBLE) / SUM(c_va) * 10000.0 + 0.5) / 10000.0
         AS xent_nats
FROM scored
GROUP BY lang
ORDER BY lang
"""


TEXT_SPLIT_XENT_ORACLE = _split_xent_oracle()


# --------------------------------------------------------------------------
# Context-window chunking via a Python UDTF (Spark 4 table function):
# each document becomes ⌈n/stride⌉ overlapping token-window chunks —
# the RAG-indexing / pretraining-window layout.  A UDTF is the right
# API here because the op is one-row-to-many-rows with per-row Python
# logic; it lateral-joins inside the SQL plan, so filters on doc_id
# still push into the parquet scan below it.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks per document, via a registered
    Python UDTF in a LATERAL join.

    The UDTF class is defined locally so cloudpickle serializes it by
    value (an executor without this repo on sys.path can still run it —
    same trap as the mapInPandas fns in operators/multimodal.py).
    Chunking is a narrow per-row expansion: no shuffle at all before
    the final presentation ORDER BY.  Arrow-batched UDTF execution is
    one conf away (spark.sql.execution.pythonUDTF.arrow.enabled); the
    row path keeps the demo free of Arrow-version coupling."""
    from pyspark.sql.functions import udtf

    class _Chunker:
        def eval(self, doc_id, text):
            toks = [t for t in (text or "").split(" ") if t]
            for idx, start in enumerate(range(0, len(toks), CHUNK_STRIDE)):
                piece = toks[start : start + CHUNK_TOKENS]
                yield doc_id, idx, " ".join(piece), len(piece)

    chunker = udtf(
        _Chunker,
        returnType="doc_id bigint, chunk_idx int, chunk_text string, n_tokens int",
    )
    spark.udtf.register("chunk_docs_udtf", chunker)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v_chunk")
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens
        FROM documents_v_chunk AS d,
             LATERAL chunk_docs_udtf(d.doc_id, d.text) AS c
        ORDER BY c.doc_id, c.chunk_idx
        """
    )


TEXT_CHUNK_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS ts FROM documents),
starts AS (
  SELECT doc_id, ts, UNNEST(range(0, len(ts), {CHUNK_STRIDE})) AS start
  FROM t
)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       array_to_string(ts[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text,
       CAST(LEAST({CHUNK_TOKENS}, len(ts) - start) AS INTEGER) AS n_tokens
FROM starts
ORDER BY doc_id, chunk_idx
"""


# --------------------------------------------------------------------------
# TF-IDF: the classic relevance weighting over the corpus, kept fully
# relational.  Three bounded-cardinality hash-aggs (term-frequency at
# (doc, token) grain; document-frequency at token grain — vocab-sized,
# Zipf-bounded; the corpus doc count as a 1-row broadcast) joined on
# token, then a per-doc window for the top-K terms.  No all-pairs
# shape anywhere: the only shuffles are the two hash-aggs and the
# token-keyed join, each linear in corpus token count — the same plan
# at 100 TB, with the window bounded at K rows per document.
TFIDF_TOP_K = 3


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K TF-IDF terms per document (tfidf = tf · ln(N/df)).

    Determinism across engines: tfidf is ROUNDED before ranking, and
    the window tie-breaks on (token) — so engines that disagree only
    in sub-round bits of ln() still rank identically."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(_TOKS)).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = (
        toks.distinct().groupBy("token").agg(F.count("*").alias("df"))
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 5),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "rk", "token", "tf", "df", "tfidf")
        .orderBy("doc_id", "rk")
    )


# NOTE: DuckDB ln() is natural log (log() is base-10) — F.log in Spark
# is natural log, so ln() is the matching spelling.
TEXT_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_TOKS_DUCK}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         ROUND(tf.tf * ln(n.n_docs / dfreq.df), 5) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, token, tf, df, tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, token ASC
         ) AS rk
  FROM scored
)
SELECT doc_id, rk, token, tf, df, tfidf
FROM ranked
WHERE rk <= {TFIDF_TOP_K}
ORDER BY doc_id, rk
"""


# --------------------------------------------------------------------------
# Order-2 language-model scoring: each document's mean log-probability
# of its bigrams under the corpus's own bigram model — the next rung
# above text_unigram_logprob on the KenLM-style perplexity-filter
# ladder.  p(y|x) = c(x,y) / c(x ·) where c(x ·) sums c(x,y) over
# observed continuations, so the conditional is properly normalized
# and every doc bigram is in-model by construction (self-supervised:
# no smoothing constant to tune, no OOV path).
#
# Scale shape: documents is scanned ONCE — the explode collapses to
# the (doc, x, y) count grain first, and that one exchange feeds BOTH
# the model (two chained hash-aggs: (x,y) counts, then x margins) and
# the scoring join (Spark reuses the exchange — the PMI pattern);
# scoring weights each bigram's log-prob by its in-doc multiplicity,
# which is value-identical to scoring every occurrence.  The scoring
# join BROADCASTS the model side (r14, closing the r13 verdict's
# bigram-probe finding): the LM table is model-sized — observed
# bigram TYPES, Heaps-law sublinear in the corpus (931 → 9,310 rows
# across the probe's 10× step, kilobytes) — while doc_bg is
# corpus-sized, so shuffling the doc-bigram stream on (x, y) to meet
# a table orders of magnitude smaller is exactly the plan to forbid.
# Left to stats the planner picked broadcast at sf0.01 but can flip
# to sort-merge as the size estimate crosses the threshold at larger
# SFs; the explicit hint pins it at every scale and
# test_plan_quality.py::test_bigram_lm_scoring_join_broadcasts_model
# asserts the shape.  (A vocab-explosive corpus whose observed-bigram
# table outgrew executor memory would drop the hint and take the
# shuffle join — that is the documented fallback, not the default.)
# Determinism: per-bigram log-probs cast to DECIMAL(18,9) before the
# exact decimal cnt·logp accumulation (partition-order-free), one
# double division at the end — the text_unigram_logprob recipe.
_BIGRAMS_DOC = """CASE WHEN size(split(text, ' ')) >= 2 THEN
     zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
              slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
              (a, b) -> struct(a AS x, b AS y))
   ELSE array() END"""


def _bigram_lm_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(doc_bg, model) — the per-doc bigram counts and the corpus LM
    table, the two inputs of text_bigram_logprob's scoring join.  On
    the 10× replica slice the model table grows with the factor
    (replica suffixing keeps replica bigrams distinct), as it does
    for a 10× corpus of new content."""
    d = table(spark, sf_dir, "documents")
    stream = d.select(
        "doc_id", F.explode(F.expr(_BIGRAMS_DOC)).alias("bg")
    ).select("doc_id", F.col("bg.x").alias("x"), F.col("bg.y").alias("y"))
    doc_bg = stream.groupBy("doc_id", "x", "y").agg(F.count("*").alias("cnt"))
    c_xy = doc_bg.groupBy("x", "y").agg(F.sum("cnt").alias("c_xy"))
    c_x = c_xy.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    model = c_xy.join(c_x, "x").select(
        "x",
        "y",
        F.log(F.col("c_xy") / F.col("c_x")).cast("decimal(18,9)").alias("logp"),
    )
    return doc_bg, model


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    bigram LM (docs with < 2 tokens carry no bigram and are absent, as
    in the oracle)."""
    doc_bg, model = _bigram_lm_tables(spark, sf_dir)
    return (
        doc_bg.join(F.broadcast(model), ["x", "y"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("logp")).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            # floor recipe (half-toward-+inf on this negative ratio),
            # not ROUND: s is an exact DECIMAL sum, so s/n_bigrams can
            # land exactly on a 4dp halfway value where the engines'
            # ROUND directions differ.
            _fr4(F.col("s").cast("double") / F.col("n_bigrams")).alias(
                "avg_logp"
            ),
        )
        .orderBy("doc_id")
    )


TEXT_BIGRAM_LM_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
stream AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(len(ws), 1)), i -> ws[i])) AS x,
         UNNEST(list_transform(range(1, greatest(len(ws), 1)), i -> ws[i+1])) AS y
  FROM w WHERE len(ws) >= 2
),
cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM stream GROUP BY x, y),
cx AS (SELECT x, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM cxy GROUP BY x),
model AS (
  SELECT x, y,
         CAST(ln(CAST(c_xy AS DOUBLE) / c_x) AS DECIMAL(18,9)) AS logp
  FROM cxy JOIN cx USING (x)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       floor(CAST(SUM(logp) AS DOUBLE) / COUNT(*) * 1e4 + 0.5) / 1e4
         AS avg_logp
FROM stream JOIN model USING (x, y)
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Character-level Shannon entropy per document — the gibberish /
# compression-artifact detector (near-zero entropy = repeated-char
# padding, abnormally high = random bytes / base64 blobs).  Uses the
# H = ln(n) − (Σ c·ln c)/n identity so the whole op is ONE explode and
# ONE two-level hash-agg — no per-doc total join, no window.
# Determinism: each c·ln(c) term is cast to DECIMAL(18,9) before the
# per-doc sum (partition-order-free), one double division at the end —
# the text_unigram_logprob recipe.
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy in nats, with character counts
    (empty documents carry no characters and are absent, as in the
    oracle)."""
    d = table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).where(F.col("ch") != "")
    cnt = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_chars"),
            F.count("*").alias("distinct_chars"),
            # DECIMAL(28,9), not (18,9): c·ln c is unbounded in doc
            # size (a 60M-repeat padding doc overflows 9 integer
            # digits and ANSI mode turns that into a crash); 19
            # integer digits cover c ≈ 3e17
            F.sum(
                (F.col("c") * F.log("c")).cast("decimal(28,9)")
            ).alias("s"),
        )
        .select(
            "doc_id",
            "n_chars",
            "distinct_chars",
            # floor recipe, not ROUND: H = ln(n) - s/n with s an exact
            # DECIMAL — single-char docs give H exactly 0, and rational
            # s/n can hit representable 4dp halfway values.
            _fr4(
                F.log("n_chars") - F.col("s").cast("double") / F.col("n_chars")
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


TEXT_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM documents
),
cnt AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars WHERE ch <> ''
  GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS distinct_chars,
       floor((ln(CAST(SUM(c) AS DOUBLE))
              - CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,9)))
                     AS DOUBLE) / SUM(c)) * 1e4 + 0.5) / 1e4 AS entropy
FROM cnt
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Zipf-law fit — the corpus-health diagnostic LLM-data pipelines run on
# token frequencies (a natural-language corpus has slope ≈ −1; heavy
# boilerplate or synthetic junk bends it).  Slope/intercept via OLS of
# ln(freq) on ln(rank) over the top-N tokens.
#
# Scale shape: token frequencies are one explode → hash-agg (vocab
# grain), the top-N is TakeOrderedAndProject, and the tiny ranked set
# (N=100 rows) takes a single-partition window + one aggregate —
# driver never sees rows.  Cross-engine determinism: the ln() doubles
# are identical in both engines; the SUMS over them run in DECIMAL so
# partial-aggregation order cannot perturb the last bits, and the
# closed-form OLS then runs on identical doubles.
ZIPF_TOP_N = 100


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: tokens considered, OLS slope and intercept of the
    log-log frequency-rank line over the top-ZIPF_TOP_N tokens (ties
    ranked by token text for engine-agreed order)."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.expr(_TOKS)).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("freq"))
    )
    top = freq.orderBy(F.col("freq").desc(), "t").limit(ZIPF_TOP_N)
    w = Window.orderBy(F.col("freq").desc(), "t")
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    terms = top.select(
        "freq", F.row_number().over(w).alias("rank")
    ).select(
        x.cast("decimal(28,15)").alias("x"),
        y.cast("decimal(28,15)").alias("y"),
        (x * y).cast("decimal(28,15)").alias("xy"),
        (x * x).cast("decimal(28,15)").alias("xx"),
    )
    agg = terms.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fr6 = lambda c: _fr(c, 6)  # noqa: E731
    # x-variance guard: n·sxx − sx² = 0 iff every x is identical (≤1
    # distinct rank — a ≤1-token corpus).  Spark ANSI throws
    # DIVIDE_BY_ZERO on double/0 where DuckDB yields NaN, so the
    # degenerate fit must emit zero rows in BOTH engines instead.
    return agg.where(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
    ).select(
        F.col("n").cast("long").alias("n_tokens"),
        fr6(slope).alias("slope"),
        fr6((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
    )


TEXT_ZIPF_ORACLE = f"""
WITH freq AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST({_TOKS_DUCK}) AS t FROM documents)
  GROUP BY t
),
top AS (SELECT freq FROM freq ORDER BY freq DESC, t LIMIT {ZIPF_TOP_N}),
ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC) AS rank FROM top
),
terms AS (
  SELECT CAST(ln(rank) AS DECIMAL(28,15)) AS x,
         CAST(ln(freq) AS DECIMAL(28,15)) AS y,
         CAST(ln(rank) * ln(freq) AS DECIMAL(28,15)) AS xy,
         CAST(ln(rank) * ln(rank) AS DECIMAL(28,15)) AS xx
  FROM ranked
),
agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_tokens,
       floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
         AS slope,
       floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             * 1e6 + 0.5) / 1e6 AS intercept
FROM agg
WHERE n * sxx - sx * sx > 0
"""


# --------------------------------------------------------------------------
# Bigram novelty — per-document share of distinct word-bigrams that
# appear in NO other document (corpus document-frequency 1): the cheap
# originality/templating signal (boilerplate-heavy docs share almost
# every bigram; generated junk is near-100% novel).
_BIGRAMS_EXPR = """CASE WHEN size(split(text, ' ')) >= 2 THEN
    zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
             slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
             (a, b) -> concat_ws(' ', a, b))
  ELSE array() END"""
_BIGRAMS_DUCK = """CASE WHEN len(string_split(text, ' ')) >= 2 THEN
    list_transform(range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1])
  ELSE [] END"""


def text_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document (≥1 bigram): distinct bigrams, how many are
    corpus-unique (df = 1), and the novelty rate.  One shuffle on the
    bigram key (distinct per doc pre-aggregated map-side), then a
    per-doc hash-agg — the same doc-frequency shape as the repeated-
    n-gram contamination audit."""
    d = table(spark, sf_dir, "documents")
    db = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_BIGRAMS_EXPR))).alias("bigram"),
    )
    dfreq = db.groupBy("bigram").agg(F.count("*").alias("df"))
    return (
        db.join(dfreq, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_bigrams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique_bigrams"),
        )
        .select(
            "doc_id",
            "n_distinct_bigrams",
            "n_unique_bigrams",
            _fr4(
                F.col("n_unique_bigrams") / F.col("n_distinct_bigrams")
            ).alias("novelty_rate"),
        )
        .orderBy("doc_id")
    )


TEXT_NOVELTY_ORACLE = f"""
WITH db AS (
  SELECT DISTINCT doc_id, bigram
  FROM (SELECT doc_id, UNNEST({_BIGRAMS_DUCK}) AS bigram FROM documents)
),
dfreq AS (SELECT bigram, COUNT(*) AS df FROM db GROUP BY bigram)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique_bigrams,
       floor(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
             * 10000.0 + 0.5) / 10000.0 AS novelty_rate
FROM db JOIN dfreq USING (bigram)
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
def text_hapax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document (≥1 token): token total, type count, within-doc
    hapax count (tokens used exactly once), type-token ratio, and
    hapax share of types — the lexical-richness profile (low hapax =
    repetitive padding; TTR near 1 with high hapax = thin or
    generated text).  Two-level hash-agg on (doc, token) then doc —
    the char-entropy shuffle shape on the token grain."""
    d = table(spark, sf_dir, "documents")
    per_tok = (
        d.select("doc_id", F.explode(F.expr(_TOKS)).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").alias("token_count"),
            F.count("*").alias("type_count"),
            F.sum((F.col("c") == 1).cast("long")).alias("hapax_count"),
        )
        .select(
            "doc_id",
            "token_count",
            "type_count",
            "hapax_count",
            _fr4(F.col("type_count") / F.col("token_count")).alias("ttr"),
            _fr4(F.col("hapax_count") / F.col("type_count")).alias(
                "hapax_share"
            ),
        )
        .orderBy("doc_id")
    )


TEXT_HAPAX_ORACLE = f"""
WITH per_tok AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, UNNEST({_TOKS_DUCK}) AS t FROM documents)
  GROUP BY doc_id, t
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS token_count,
       CAST(COUNT(*) AS BIGINT) AS type_count,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS hapax_count,
       floor(COUNT(*) * 1.0 / SUM(c) * 10000.0 + 0.5) / 10000.0 AS ttr,
       floor(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
             * 10000.0 + 0.5) / 10000.0 AS hapax_share
FROM per_tok
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Per-source quality-drift monitor (r7 verdict item 8c): the quality
# scorecard crossed with an ingestion grain.  A source whose quality
# mix shifts batch-over-batch (scraper broke, upstream changed
# templates) is the DQ event a pretraining pipeline must catch before
# the tokens are in the run.  The ingestion batch here is a
# deterministic doc_id range (the corpus carries no ingest timestamp);
# in deployment the same query keys on the ingest-date partition
# column.  drift_pp = the largest absolute percentage-point gap
# between a batch's quality-bucket share and its source's overall
# share.
#
# Scale shape: one corpus scan → two hash-aggs (source×batch and
# source grain) → a join on source (batch grain, tiny) — no windows,
# no corpus-sized join sides.
QD_BATCH_DOCS = 100


def dq_source_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, ingest batch): docs, quality-bucket counts, and
    drift_pp vs the source's overall mix (floor recipe at 4 dp on
    identical integer inputs in both engines)."""
    d = table(spark, sf_dir, "documents")
    j = d.select(
        "source",
        F.expr(f"doc_id DIV {QD_BATCH_DOCS}").alias("batch_id"),
        "doc_id",
    ).join(text_quality(spark, sf_dir).select("doc_id", "quality_bucket"), "doc_id")

    def _cnt(b: str):
        return F.sum((F.col("quality_bucket") == b).cast("long"))

    per_batch = j.groupBy("source", "batch_id").agg(
        F.count("*").alias("n_docs"),
        _cnt("high").alias("hi_docs"),
        _cnt("medium").alias("med_docs"),
        _cnt("low").alias("low_docs"),
    )
    per_src = j.groupBy("source").agg(
        F.count("*").alias("s_n"),
        _cnt("high").alias("s_hi"),
        _cnt("medium").alias("s_med"),
        _cnt("low").alias("s_low"),
    )

    def _gap(b: str, s: str):
        return F.abs(
            F.col(b) * 100.0 / F.col("n_docs")
            - F.col(s) * 100.0 / F.col("s_n")
        )

    return (
        per_batch.join(per_src, "source")
        .select(
            "source",
            "batch_id",
            "n_docs",
            "hi_docs",
            "med_docs",
            "low_docs",
            _fr4(
                F.greatest(
                    _gap("hi_docs", "s_hi"),
                    _gap("med_docs", "s_med"),
                    _gap("low_docs", "s_low"),
                )
            ).alias("drift_pp"),
        )
        .orderBy("source", "batch_id")
    )


DQ_QUALITY_DRIFT_ORACLE = f"""
WITH q AS ({TEXT_QUALITY_ORACLE.replace("ORDER BY doc_id", "")}),
j AS (
  SELECT d.source, d.doc_id // {QD_BATCH_DOCS} AS batch_id,
         q.quality_bucket
  FROM documents d JOIN q ON q.doc_id = d.doc_id
),
pb AS (
  SELECT source, batch_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN quality_bucket = 'high' THEN 1 ELSE 0 END)
              AS BIGINT) AS hi_docs,
         CAST(SUM(CASE WHEN quality_bucket = 'medium' THEN 1 ELSE 0 END)
              AS BIGINT) AS med_docs,
         CAST(SUM(CASE WHEN quality_bucket = 'low' THEN 1 ELSE 0 END)
              AS BIGINT) AS low_docs
  FROM j GROUP BY source, batch_id
),
ps AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS s_n,
         CAST(SUM(CASE WHEN quality_bucket = 'high' THEN 1 ELSE 0 END)
              AS BIGINT) AS s_hi,
         CAST(SUM(CASE WHEN quality_bucket = 'medium' THEN 1 ELSE 0 END)
              AS BIGINT) AS s_med,
         CAST(SUM(CASE WHEN quality_bucket = 'low' THEN 1 ELSE 0 END)
              AS BIGINT) AS s_low
  FROM j GROUP BY source
)
SELECT pb.source, pb.batch_id, pb.n_docs, pb.hi_docs, pb.med_docs,
       pb.low_docs,
       floor(GREATEST(
         abs(pb.hi_docs * 100.0 / pb.n_docs - ps.s_hi * 100.0 / ps.s_n),
         abs(pb.med_docs * 100.0 / pb.n_docs - ps.s_med * 100.0 / ps.s_n),
         abs(pb.low_docs * 100.0 / pb.n_docs - ps.s_low * 100.0 / ps.s_n)
       ) * 10000.0 + 0.5) / 10000.0 AS drift_pp
FROM pb JOIN ps ON ps.source = pb.source
ORDER BY pb.source, pb.batch_id
"""


# --------------------------------------------------------------------------
# Heaps'-law fit — the companion diagnostic to text_zipf_slope: vocab
# size grows ~ (corpus tokens)^β with β ≈ 0.4-0.6 for natural text; a
# β near 1 means unbounded novel junk (random strings), near 0 means
# template spam.  Fit at an ORDERED BUCKET grain, not per-doc: the
# cumulative window runs over n_docs/HEAPS_BUCKET_DOCS rows (tiny at
# any scale — bucket count is the knob), never over the corpus.
# First-occurrence attribution (token → min doc_id) is one hash-agg.
HEAPS_BUCKET_DOCS = 100


def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: points fitted, OLS slope (the Heaps exponent β) and
    intercept of ln(cumulative vocab) on ln(cumulative tokens) over
    doc_id-ordered ingestion buckets.  Same DECIMAL-sum OLS recipe as
    text_zipf_slope."""
    raw = table(spark, sf_dir, "documents")
    d = raw.select(
        "doc_id", F.expr(f"size({_TOKS})").cast("long").alias("tk")
    )
    first_doc = (
        raw.select("doc_id", F.explode(F.expr(_TOKS)).alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(
            F.expr(f"first_doc DIV {HEAPS_BUCKET_DOCS}").alias("bucket")
        )
        .agg(F.count("*").alias("new_types"))
    )
    per_bucket = (
        d.groupBy(F.expr(f"doc_id DIV {HEAPS_BUCKET_DOCS}").alias("bucket"))
        .agg(F.sum("tk").alias("bucket_tokens"))
        .join(first_doc, "bucket", "left")
        .select(
            "bucket",
            "bucket_tokens",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
    )
    w = Window.orderBy("bucket")  # bucket grain: tiny by construction
    cum = per_bucket.select(
        F.sum("bucket_tokens").over(w).alias("cum_tokens"),
        F.sum("new_types").over(w).alias("cum_types"),
    ).where((F.col("cum_tokens") > 0) & (F.col("cum_types") > 0))
    x = F.log(F.col("cum_tokens").cast("double"))
    y = F.log(F.col("cum_types").cast("double"))
    terms = cum.select(
        x.cast("decimal(28,15)").alias("x"),
        y.cast("decimal(28,15)").alias("y"),
        (x * y).cast("decimal(28,15)").alias("xy"),
        (x * x).cast("decimal(28,15)").alias("xx"),
    )
    agg = terms.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fr6 = lambda c: _fr(c, 6)  # noqa: E731
    # same x-variance guard as text_zipf_slope: a ≤1-bucket corpus has
    # zero x-variance — emit zero rows in both engines, never a Spark
    # ANSI DIVIDE_BY_ZERO vs DuckDB NaN divergence.
    return agg.where(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
    ).select(
        F.col("n").cast("long").alias("n_points"),
        fr6(slope).alias("beta"),
        fr6((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
    )


TEXT_HEAPS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(len({_TOKS_DUCK}) AS BIGINT) AS tk FROM documents
),
first_doc AS (
  SELECT t, MIN(doc_id) // {HEAPS_BUCKET_DOCS} AS bucket
  FROM (SELECT doc_id, UNNEST({_TOKS_DUCK}) AS t FROM documents)
  GROUP BY t
),
new_types AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types
  FROM first_doc GROUP BY bucket
),
per_bucket AS (
  SELECT d.doc_id // {HEAPS_BUCKET_DOCS} AS bucket,
         CAST(SUM(d.tk) AS BIGINT) AS bucket_tokens
  FROM d GROUP BY bucket
),
joined AS (
  SELECT p.bucket, p.bucket_tokens,
         COALESCE(n.new_types, 0) AS new_types
  FROM per_bucket p LEFT JOIN new_types n ON n.bucket = p.bucket
),
cum AS (
  SELECT SUM(bucket_tokens) OVER (ORDER BY bucket) AS cum_tokens,
         SUM(new_types) OVER (ORDER BY bucket) AS cum_types
  FROM joined
),
terms AS (
  SELECT CAST(ln(cum_tokens) AS DECIMAL(28,15)) AS x,
         CAST(ln(cum_types) AS DECIMAL(28,15)) AS y,
         CAST(ln(cum_tokens) * ln(cum_types) AS DECIMAL(28,15)) AS xy,
         CAST(ln(cum_tokens) * ln(cum_tokens) AS DECIMAL(28,15)) AS xx
  FROM cum WHERE cum_tokens > 0 AND cum_types > 0
),
agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_points,
       floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
         AS beta,
       floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             * 1e6 + 0.5) / 1e6 AS intercept
FROM agg
WHERE n * sxx - sx * sx > 0
"""


# --------------------------------------------------------------------------
# Token frequency spectrum (count-of-counts): how many vocabulary
# types occur exactly k times — the input to Good-Turing smoothing and
# the quickest shape check on a corpus's tail (a healthy corpus has a
# long hapax-heavy tail; dedup failures and template spam fold it).
# Scale: explode → vocab-grain hash-agg → spectrum-grain hash-agg;
# output rows = distinct frequency values (grows ~log with corpus).
def text_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(freq, n_types) for every occurrence count in the corpus
    vocabulary, ordered by freq."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.expr(_TOKS)).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("freq"))
        .groupBy("freq")
        .agg(F.count("*").alias("n_types"))
        .orderBy("freq")
    )


TEXT_FREQ_SPECTRUM_ORACLE = f"""
SELECT freq, CAST(COUNT(*) AS BIGINT) AS n_types
FROM (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST({_TOKS_DUCK}) AS t FROM documents)
  GROUP BY t
)
GROUP BY freq
ORDER BY freq
"""


# --------------------------------------------------------------------------
# First BPE merge iteration — the tokenizer-TRAINING primitive: count
# every adjacent character pair inside every word occurrence and rank
# the merge candidates.  A full BPE trainer is this aggregation run
# iteratively with the winning pair merged into the symbol stream;
# the first iteration is where ~all the corpus scan cost lives, and
# its shape (explode → bounded-key hash-agg → TakeOrdered) is exactly
# what survives 100 TB (pair cardinality is alphabet², not corpus).
BPE_TOP_PAIRS = 50


def text_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-BPE_TOP_PAIRS adjacent character pairs by corpus occurrence
    count (ties broken by pair text), with their merge rank."""
    d = table(spark, sf_dir, "documents")
    pairs = (
        d.select(F.explode(F.expr(_TOKS)).alias("t"))
        .where(F.length("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(t) - 1),"
                    " i -> substring(t, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("pair_count"))
    )
    top = pairs.orderBy(F.col("pair_count").desc(), "pair").limit(
        BPE_TOP_PAIRS
    )
    w = Window.orderBy(F.col("pair_count").desc(), "pair")
    return top.select(
        F.row_number().over(w).alias("rank"), "pair", "pair_count"
    ).orderBy("rank")


TEXT_BPE_ORACLE = f"""
WITH tok AS (
  SELECT UNNEST({_TOKS_DUCK}) AS t FROM documents
),
pairs AS (
  SELECT UNNEST(list_transform(range(1, length(t)), i -> substr(t, i, 2)))
           AS pair
  FROM tok WHERE length(t) >= 2
),
counts AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM pairs GROUP BY pair
),
top AS (
  SELECT pair, pair_count FROM counts
  ORDER BY pair_count DESC, pair LIMIT {BPE_TOP_PAIRS}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INTEGER)
         AS rank,
       pair, pair_count
FROM top
ORDER BY rank
"""


# --------------------------------------------------------------------------
# Adjacent-token repetition rate — the degeneration signal Gopher's
# DISTINCT-based dup ratios can't see: "the the the" has dup_token
# share identical to any 3-of-a-kind doc, but its ADJACENT repeat
# rate is 1.0 (model-loop output, stutter artifacts).  Pure per-row
# map over the token array; no shuffle at all before the final
# presentation sort.
def text_repetition_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document (≥2 tokens): tokens, adjacent equal-token pairs,
    and the repeat rate n_repeats / (n_tokens − 1)."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr(f"size({_TOKS})")
    reps = F.expr(
        f"""size(filter(
              zip_with(slice({_TOKS}, 1, size({_TOKS}) - 1),
                       slice({_TOKS}, 2, size({_TOKS}) - 1),
                       (a, b) -> a = b),
              x -> x))"""
    )
    return (
        d.select(
            "doc_id",
            toks.cast("long").alias("n_tokens"),
            reps.cast("long").alias("n_repeats"),
        )
        .where(F.col("n_tokens") >= 2)
        .select(
            "doc_id",
            "n_tokens",
            "n_repeats",
            _fr4(F.col("n_repeats") / (F.col("n_tokens") - 1)).alias(
                "repeat_rate"
            ),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_TOKS_DUCK} AS ws FROM documents
),
counted AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(
                list_transform(range(1, len(ws)),
                               i -> ws[i] = ws[i + 1]),
                x -> x)) AS BIGINT) AS n_repeats
  FROM d WHERE len(ws) >= 2
)
SELECT doc_id, n_tokens, n_repeats,
       floor(n_repeats * 1.0 / (n_tokens - 1) * 10000.0 + 0.5) / 10000.0
         AS repeat_rate
FROM counted
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Cross-document repeated-substring spans — the substring-granular
# exact-dedup signal (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): document-level dedup misses the
# boilerplate PARAGRAPH pasted into thousands of otherwise-distinct
# pages, and it is exactly those repeated spans a training pipeline
# wants cut.  The full suffix-array construction is replaced by the
# fixed-width sliding-window form (every run of SPAN_TOKENS
# consecutive tokens), which a distributed engine expresses as one
# explode + one hash-agg: any repeated substring of ≥ SPAN_TOKENS
# tokens necessarily repeats at least one width-SPAN_TOKENS window,
# so window-grain doc frequency is a complete detector at that
# granularity.
#
# Scale: window count = token count (minus W−1 per doc), so the
# shuffle is one map-side-combined hash-agg on the span key — the
# text_novelty_rate / repeated_ngram_share shape, linear in corpus
# tokens, never pairwise.  Top-k via TakeOrderedAndProject.
SPAN_TOKENS = 6
SPAN_TOP_K = 50

# ts let-binding (r11, see dedup_cdc_chunks): transform(array(<toks>),
# ts -> body)[0] evaluates the token split ONCE per row; the earlier
# form referenced {_TOKS} inside the positional lambda, and Catalyst's
# projection collapse re-ran split(text) per window position —
# measured 2.2 s → 1.0 s at sf0.1 (fresh-build best of 3, local[32]).
_SPANS_EXPR = f"""transform(array({_TOKS}), ts ->
    CASE WHEN size(ts) >= {SPAN_TOKENS} THEN
      transform(sequence(1, size(ts) - {SPAN_TOKENS} + 1),
                i -> concat_ws(' ', slice(ts, i, {SPAN_TOKENS})))
    ELSE array() END)[0]"""


def text_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{SPAN_TOP_K} width-{SPAN_TOKENS} token windows appearing in
    ≥2 distinct documents: span text, distinct-document frequency, and
    total occurrence count (a span repeated within one document counts
    every occurrence — within-doc templating and cross-doc boilerplate
    are both visible, split across the two columns)."""
    d = table(spark, sf_dir, "documents")
    per_doc = (
        d.select("doc_id", F.explode(F.expr(_SPANS_EXPR)).alias("span"))
        .groupBy("doc_id", "span")
        .agg(F.count("*").alias("n_in_doc"))
    )
    return (
        per_doc.groupBy("span")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_in_doc").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "span"
        )
        .limit(SPAN_TOP_K)
    )


TEXT_REPEATED_SPANS_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS_DUCK} AS ts FROM documents),
spans AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(ts) - {SPAN_TOKENS} + 2),
                i -> array_to_string(
                       list_slice(ts, i, i + {SPAN_TOKENS} - 1), ' ')))
           AS span
  FROM toks WHERE len(ts) >= {SPAN_TOKENS}
),
per_doc AS (
  SELECT doc_id, span, COUNT(*) AS n_in_doc
  FROM spans GROUP BY doc_id, span
)
SELECT span, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_in_doc) AS BIGINT) AS n_occurrences
FROM per_doc GROUP BY span
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, span
LIMIT {SPAN_TOP_K}
"""


QUERIES = {
    "text_stats": text_stats,
    "text_zipf_slope": text_zipf_slope,
    "text_novelty_rate": text_novelty_rate,
    "text_hapax_profile": text_hapax_profile,
    "text_lang_rollup": text_lang_rollup,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_bigram_topk": text_bigram_topk,
    "text_regex_token_stats": text_regex_token_stats,
    "text_gopher_quality": text_gopher_quality,
    "text_pii_scrub": text_pii_scrub,
    "text_vocab_coverage": text_vocab_coverage,
    "text_unigram_logprob": text_unigram_logprob,
    "text_split_xentropy": text_split_xentropy,
    "text_chunk_udtf": text_chunk_udtf,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_pmi_collocations": text_pmi_collocations,
    "text_bigram_logprob": text_bigram_logprob,
    "text_char_entropy": text_char_entropy,
    "text_langid_confusion": text_langid_confusion,
    "dq_source_quality_drift": dq_source_quality_drift,
    "text_heaps_law": text_heaps_law,
    "text_freq_spectrum": text_freq_spectrum,
    "text_bpe_first_merges": text_bpe_first_merges,
    "text_repetition_rate": text_repetition_rate,
    "text_repeated_spans": text_repeated_spans,
}

ORACLE = {
    "text_stats": TEXT_STATS_ORACLE,
    "text_zipf_slope": TEXT_ZIPF_ORACLE,
    "text_novelty_rate": TEXT_NOVELTY_ORACLE,
    "text_hapax_profile": TEXT_HAPAX_ORACLE,
    "text_lang_rollup": TEXT_LANG_ORACLE,
    "text_quality": TEXT_QUALITY_ORACLE,
    "text_langid": TEXT_LANGID_ORACLE,
    "text_fingerprint": TEXT_FP_ORACLE,
    "text_bigram_topk": TEXT_BIGRAM_ORACLE,
    "text_regex_token_stats": TEXT_REGEX_ORACLE,
    "text_gopher_quality": TEXT_GOPHER_ORACLE,
    "text_pii_scrub": TEXT_PII_ORACLE,
    "text_vocab_coverage": TEXT_VOCAB_ORACLE,
    "text_unigram_logprob": TEXT_UNIGRAM_ORACLE,
    "text_split_xentropy": TEXT_SPLIT_XENT_ORACLE,
    "text_chunk_udtf": TEXT_CHUNK_ORACLE,
    "text_tfidf_top_terms": TEXT_TFIDF_ORACLE,
    "text_pmi_collocations": TEXT_PMI_ORACLE,
    "text_bigram_logprob": TEXT_BIGRAM_LM_ORACLE,
    "text_char_entropy": TEXT_ENTROPY_ORACLE,
    "text_langid_confusion": TEXT_LANGID_CONF_ORACLE,
    "dq_source_quality_drift": DQ_QUALITY_DRIFT_ORACLE,
    "text_heaps_law": TEXT_HEAPS_ORACLE,
    "text_freq_spectrum": TEXT_FREQ_SPECTRUM_ORACLE,
    "text_bpe_first_merges": TEXT_BPE_ORACLE,
    "text_repetition_rate": TEXT_REPETITION_ORACLE,
    "text_repeated_spans": TEXT_REPEATED_SPANS_ORACLE,
}
