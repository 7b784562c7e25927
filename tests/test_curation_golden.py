"""Golden micro-fixtures for the curation operators — hand-computed
expectations on crafted documents/embeddings.  The DuckDB oracles
prove Spark and DuckDB agree; these prove they agree on the RIGHT
answer (a shared misreading of the semantics would pass parity and
fail here).
"""

from __future__ import annotations

import pytest

from bigdata_gamedb_etl_spark.operators.dedup import dq_contamination_scorecard
from bigdata_gamedb_etl_spark.operators.similarity import (
    dedup_semantic_fused_pairs,
)
from bigdata_gamedb_etl_spark.sources.catalog import TABLE_SCHEMAS


def _doc(doc_id, text, source="src"):
    return (doc_id, text, "en", source, len(text))


# --- fused near-dup fixture ----------------------------------------------
# (1,2): near-identical texts (Jaccard 5/7), orthogonal embeddings
#        -> lexical_only
# (3,4): disjoint texts, identical embeddings (cosine 1)
#        -> semantic_only
# (5,6): near-identical texts (Jaccard 4/6) AND identical embeddings
#        -> both
FUSED_DOCS = [
    _doc(1, "a b c d e f g h"),
    _doc(2, "a b c d e f g x"),
    _doc(3, "p q r s t u"),
    _doc(4, "z y x w v u"),
    _doc(5, "m n o p q r s"),
    _doc(6, "m n o p q r t"),
]
FUSED_EMB = [
    (1, [1.0, 0.0, 0.0, 0.0], 0),
    (2, [0.0, 1.0, 0.0, 0.0], 0),
    (3, [0.0, 0.0, 1.0, 0.0], 1),
    (4, [0.0, 0.0, 1.0, 0.0], 1),
    (5, [0.0, 0.0, 0.0, 1.0], 2),
    (6, [0.0, 0.0, 0.0, 1.0], 2),
]


@pytest.fixture(scope="module")
def fused_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("golden_fused")
    spark.createDataFrame(FUSED_DOCS, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    spark.createDataFrame(FUSED_EMB, TABLE_SCHEMAS["embeddings"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_fused_pairs_golden(spark, fused_dir):
    rows = {
        (r["d1"], r["d2"]): r
        for r in dedup_semantic_fused_pairs(spark, fused_dir).collect()
    }
    assert set(rows) == {(1, 2), (3, 4), (5, 6)}
    assert rows[(1, 2)]["verdict"] == "lexical_only"
    assert rows[(1, 2)]["jaccard"] == round(5 / 7, 4)
    assert rows[(1, 2)]["cosine"] is None
    assert rows[(3, 4)]["verdict"] == "semantic_only"
    assert rows[(3, 4)]["jaccard"] is None
    assert rows[(3, 4)]["cosine"] == 1.0
    assert rows[(5, 6)]["verdict"] == "both"
    assert rows[(5, 6)]["jaccard"] == round(4 / 6, 4)
    assert rows[(5, 6)]["cosine"] == 1.0


# --- contamination scorecard fixture -------------------------------------
# srcA: two IDENTICAL 60-token docs -> every shingle repeated -> share
#       1.0, both docs over the 50%% per-doc bar -> quarantine
# srcB: two fully disjoint 60-token docs -> share 0 -> clean
# srcC: 60-token docs sharing a 20-token run -> 18 repeated shingles of
#       58 per doc (36/116 = 31%%) -> watch
# srcD: two 10-token docs (token_count < 50 -> low quality) -> majority
#       low-quality -> quarantine even with zero repetition
def _tokens(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


CONTAM_DOCS = [
    _doc(10, _tokens("a", 60), "srcA"),
    _doc(11, _tokens("a", 60), "srcA"),
    _doc(12, _tokens("b", 60), "srcB"),
    _doc(13, _tokens("c", 60), "srcB"),
    _doc(14, _tokens("d", 20) + " " + _tokens("s", 20) + " " + _tokens("e", 20), "srcC"),
    _doc(15, _tokens("f", 20) + " " + _tokens("s", 20) + " " + _tokens("g", 20), "srcC"),
    _doc(16, _tokens("x", 10), "srcD"),
    _doc(17, _tokens("y", 10), "srcD"),
]


@pytest.fixture(scope="module")
def contam_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("golden_contam")
    spark.createDataFrame(CONTAM_DOCS, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_contamination_scorecard_golden(spark, contam_dir):
    rows = {
        r["source"]: r
        for r in dq_contamination_scorecard(spark, contam_dir).collect()
    }
    assert set(rows) == {"srcA", "srcB", "srcC", "srcD"}
    a = rows["srcA"]
    assert (a["n_docs"], a["sum_sh"]) == (2, 116)
    assert a["repeated_share"] == 1.0
    assert a["high_contam_docs"] == 2
    assert a["low_quality_docs"] == 0
    assert a["grade"] == "quarantine"
    b = rows["srcB"]
    assert b["repeated_share"] == 0.0
    assert b["grade"] == "clean"
    c = rows["srcC"]
    assert c["sum_sh"] == 116
    # 18 interior shingles of the shared 20-token run repeat per doc
    assert c["repeated_share"] == 0.3103
    assert c["high_contam_docs"] == 0
    assert c["grade"] == "watch"
    dd = rows["srcD"]
    assert (dd["n_docs"], dd["sum_sh"]) == (2, 16)
    assert dd["low_quality_docs"] == 2
    assert dd["grade"] == "quarantine"


# --- quarantine mart sanity ----------------------------------------------
def test_quarantine_mart_shape(spark, sf_dir):
    """13 monitored entities (5 event types, 4 join keys, 4 FK edges)
    with valid statuses, and the referential legs all ok on the
    generated star schema (it has no orphans by construction)."""
    from bigdata_gamedb_etl_spark.operators.extended import dq_quarantine_mart

    rows = dq_quarantine_mart(spark, sf_dir).collect()
    by_signal: dict[str, list] = {}
    for r in rows:
        by_signal.setdefault(r["signal"], []).append(r)
    assert set(by_signal) == {"freshness", "key_skew", "referential"}
    assert len(by_signal["key_skew"]) == 4
    assert len(by_signal["referential"]) == 4
    assert all(r["status"] in ("ok", "warn", "critical") for r in rows)
    assert all(r["status"] == "ok" for r in by_signal["referential"])
    assert all(r["metric_value"] is not None for r in rows)


# --- quarantine status thresholds ----------------------------------------
def test_quarantine_freshness_statuses_golden(spark, tmp_path_factory):
    """Crafted event feeds crossing the warn (12 h) and critical (48 h)
    staleness thresholds get the right statuses; the skew/RI legs run
    on empty tables and stay 'ok' (null metrics trip no threshold)."""
    import datetime as dt

    from bigdata_gamedb_etl_spark.operators.extended import dq_quarantine_mart
    from bigdata_gamedb_etl_spark.sources.catalog import (
        TABLE_NAMES,
        TABLE_SCHEMAS,
    )

    d = tmp_path_factory.mktemp("golden_quarantine")
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    events = [
        # fresh feed: latest == corpus max -> staleness 0 -> ok
        (0, base, 1, "fresh_feed", 1.0, "{}"),
        # 20 h stale -> warn
        (1, base - dt.timedelta(hours=20), 1, "warn_feed", 1.0, "{}"),
        # 60 h stale -> critical
        (2, base - dt.timedelta(hours=60), 2, "critical_feed", 1.0, "{}"),
    ]
    for name in TABLE_NAMES:
        rows = events if name == "events" else []
        spark.createDataFrame(rows, TABLE_SCHEMAS[name]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"{name}.parquet"))

    rows = {
        (r["signal"], r["entity"]): r
        for r in dq_quarantine_mart(spark, str(d)).collect()
    }
    assert rows[("freshness", "fresh_feed")]["status"] == "ok"
    assert rows[("freshness", "fresh_feed")]["metric_value"] == 0.0
    assert rows[("freshness", "warn_feed")]["status"] == "warn"
    assert rows[("freshness", "warn_feed")]["metric_value"] == 20.0
    assert rows[("freshness", "critical_feed")]["status"] == "critical"
    assert rows[("freshness", "critical_feed")]["metric_value"] == 60.0
    # legs over EMPTY tables trip no threshold (null metrics -> ok);
    # the events.user_id skew leg runs on the 3 crafted rows, where 2
    # of 3 belong to one user -> top-10 mass is 100% -> critical is
    # the CORRECT verdict for this degenerate micro-feed
    for (signal, entity), r in rows.items():
        if signal != "freshness" and entity != "events.user_id":
            assert r["status"] == "ok", (signal, entity)
    assert rows[("key_skew", "events.user_id")]["status"] == "critical"
    assert rows[("key_skew", "events.user_id")]["metric_value"] == 100.0


# --- SCD2 user-state history fixture -------------------------------------
# user 1: view, click, purchase, purchase  -> 3 runs (last has 2 events)
# user 2: purchase, view, error, purchase  -> 4 runs
def test_scd2_user_state_golden(spark, tmp_path_factory):
    import datetime as dt

    from bigdata_gamedb_etl_spark.operators.marts import mart_scd2_user_state

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m, 0)

    events = [
        (0, ts(10, 0), 1, "view", 1.0, "{}"),
        (1, ts(10, 5), 1, "click", 2.0, "{}"),
        (2, ts(10, 30), 1, "purchase", 10.0, "{}"),
        (3, ts(10, 45), 1, "purchase", 5.0, "{}"),
        (4, ts(9, 0), 2, "purchase", 7.0, "{}"),
        (5, ts(11, 0), 2, "view", 1.5, "{}"),
        (6, ts(11, 30), 2, "error", 0.5, "{}"),
        (7, ts(11, 59), 2, "purchase", 3.0, "{}"),
    ]
    d = tmp_path_factory.mktemp("golden_scd2")
    spark.createDataFrame(events, TABLE_SCHEMAS["events"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))

    rows = mart_scd2_user_state(spark, str(d)).collect()
    assert [(r["user_id"], r["version"], r["state"], r["n_events"]) for r in rows] == [
        (1, 1, "view", 1),
        (1, 2, "click", 1),
        (1, 3, "purchase", 2),
        (2, 1, "purchase", 1),
        (2, 2, "view", 1),
        (2, 3, "error", 1),
        (2, 4, "purchase", 1),
    ]
    by_key = {(r["user_id"], r["version"]): r for r in rows}
    # consecutive purchases collapse into ONE current interval
    cur = by_key[(1, 3)]
    assert cur["is_current"] and cur["valid_to_us"] is None
    assert cur["valid_from_us"] == int(ts(10, 30).timestamp() * 1_000_000)
    # each closed interval's valid_to equals the next version's valid_from
    assert by_key[(1, 1)]["valid_to_us"] == by_key[(1, 2)]["valid_from_us"]
    assert by_key[(2, 3)]["valid_to_us"] == by_key[(2, 4)]["valid_from_us"]
    assert sum(r["is_current"] for r in rows) == 2


# --- bigram-LM scoring fixture -------------------------------------------
# corpus: doc 1 = "a b a b", doc 2 = "a b c"
#   c(a,b)=3 c(b,a)=1 c(b,c)=1; margins c(a .)=3, c(b .)=2
#   p(b|a)=1 -> ln 0; p(a|b)=p(c|b)=1/2 -> ln 0.5 = -0.6931471805...
# doc 1 mean = ln(.5)/3 = -0.2310; doc 2 mean = ln(.5)/2 = -0.3466
def test_bigram_logprob_golden(spark, tmp_path_factory):
    from bigdata_gamedb_etl_spark.operators.textops import text_bigram_logprob

    docs = [_doc(1, "a b a b"), _doc(2, "a b c")]
    d = tmp_path_factory.mktemp("golden_bigram_lm")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = {r["doc_id"]: r for r in text_bigram_logprob(spark, str(d)).collect()}
    assert rows[1]["n_bigrams"] == 3 and rows[2]["n_bigrams"] == 2
    assert rows[1]["avg_logp"] == -0.2310
    assert rows[2]["avg_logp"] == -0.3466


# --- containment-pairs fixture -------------------------------------------
# doc 1 ("a b c d e", 3 shingles) is fully contained in doc 2
# ("a b c d e f g h", 6 shingles): common=3, containment = 3/3 = 1.0
# but Jaccard = 3/6 = 0.5 — the subset case Jaccard under-scores.
# doc 3 shares nothing.
def test_containment_pairs_golden(spark, tmp_path_factory):
    from bigdata_gamedb_etl_spark.operators.dedup import dedup_containment_pairs

    docs = [
        _doc(1, "a b c d e"),
        _doc(2, "a b c d e f g h"),
        _doc(3, "x y z w"),
    ]
    d = tmp_path_factory.mktemp("golden_containment")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = dedup_containment_pairs(spark, str(d)).collect()
    assert [(r["d1"], r["d2"], r["contained_id"], r["containment"]) for r in rows] == [
        (1, 2, 1, 1.0)
    ]


# --- character-entropy fixture -------------------------------------------
# "aaaa" -> H = 0; "ab" and "aabb" -> H = ln 2 = 0.6931
def test_char_entropy_golden(spark, tmp_path_factory):
    from bigdata_gamedb_etl_spark.operators.textops import text_char_entropy

    docs = [_doc(1, "aaaa"), _doc(2, "ab"), _doc(3, "aabb")]
    d = tmp_path_factory.mktemp("golden_entropy")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = {r["doc_id"]: r for r in text_char_entropy(spark, str(d)).collect()}
    assert (rows[1]["n_chars"], rows[1]["distinct_chars"]) == (4, 1)
    assert rows[1]["entropy"] == 0.0
    assert rows[2]["entropy"] == 0.6931
    assert rows[3]["entropy"] == 0.6931
    assert (rows[3]["n_chars"], rows[3]["distinct_chars"]) == (4, 2)


# --- distribution-drift fixture ------------------------------------------
# span 10:00..11:00 -> midpoint 10:30 (inclusive early).  Type A: both
# events early; type B: both late -> A drifts -100pp, B +100pp.
def test_distribution_drift_golden(spark, tmp_path_factory):
    import datetime as dt

    from bigdata_gamedb_etl_spark.operators.extended import dq_distribution_drift

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m, 0)

    events = [
        (0, ts(10, 0), 1, "A", 1.0, "{}"),
        (1, ts(10, 30), 1, "A", 1.0, "{}"),   # exactly at the cut -> early
        (2, ts(10, 31), 2, "B", 1.0, "{}"),
        (3, ts(11, 0), 2, "B", 1.0, "{}"),
    ]
    d = tmp_path_factory.mktemp("golden_drift")
    spark.createDataFrame(events, TABLE_SCHEMAS["events"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))

    rows = {r["event_type"]: r for r in dq_distribution_drift(spark, str(d)).collect()}
    a, b = rows["A"], rows["B"]
    assert (a["early_cnt"], a["late_cnt"]) == (2, 0)
    assert (b["early_cnt"], b["late_cnt"]) == (0, 2)
    assert (a["early_share_pct"], a["late_share_pct"], a["drift_pp"]) == (
        100.0, 0.0, -100.0,
    )
    assert (b["early_share_pct"], b["late_share_pct"], b["drift_pp"]) == (
        0.0, 100.0, 100.0,
    )


# --- Lloyd-step fixture --------------------------------------------------
# seeds from labels: c0 = mean{(2,0),(4,0),(9,0)} = (5,0);
# c1 = mean{(10,0),(12,0)} = (11,0).  The (9,0) vector (labelled 0) is
# nearer c1 -> migrates; new centroids (3,0) and (31/3,0) move by 2.0
# and 0.6667.
def test_kmeans_lloyd_step_golden(spark, tmp_path_factory):
    from bigdata_gamedb_etl_spark.operators.similarity import sim_kmeans_lloyd_step

    emb = [
        (1, [2.0, 0.0], 0),
        (2, [4.0, 0.0], 0),
        (3, [9.0, 0.0], 0),
        (4, [10.0, 0.0], 1),
        (5, [12.0, 0.0], 1),
    ]
    d = tmp_path_factory.mktemp("golden_lloyd")
    spark.createDataFrame(emb, TABLE_SCHEMAS["embeddings"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    rows = {r["centroid"]: r for r in sim_kmeans_lloyd_step(spark, str(d)).collect()}
    assert (rows[0]["n_assigned"], rows[0]["n_migrated"]) == (2, 0)
    assert (rows[1]["n_assigned"], rows[1]["n_migrated"]) == (3, 1)
    assert rows[0]["movement"] == 2.0
    assert rows[1]["movement"] == 0.6667


# --- PCA power-iteration fixture -----------------------------------------
# x1=(1,0), x2=(2,0), x3=(0,1); s = x[0] -> w = 1·x1 + 2·x2 + 0·x3 =
# (5,0); |w| = 5 -> loading (1,0), eigenvalue estimate 5.
def test_pca_power_iteration_golden(spark, tmp_path_factory):
    from bigdata_gamedb_etl_spark.operators.similarity import (
        sim_pca_power_iteration,
    )

    emb = [(1, [1.0, 0.0], 0), (2, [2.0, 0.0], 0), (3, [0.0, 1.0], 1)]
    d = tmp_path_factory.mktemp("golden_pca")
    spark.createDataFrame(emb, TABLE_SCHEMAS["embeddings"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    rows = {r["dim"]: r for r in sim_pca_power_iteration(spark, str(d)).collect()}
    assert (rows[0]["loading"], rows[1]["loading"]) == (1.0, 0.0)
    assert rows[0]["eigenvalue_est"] == 5.0


# --- drift degenerate-feed regression ------------------------------------
# single shared timestamp: every event is early, tot_late = 0 — the
# shares must come back NULL (both engines), never DIVIDE_BY_ZERO.
def test_distribution_drift_single_timestamp_feed(spark, tmp_path_factory):
    import datetime as dt

    from bigdata_gamedb_etl_spark.operators.extended import dq_distribution_drift

    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    events = [(i, ts, 1, "A", 1.0, "{}") for i in range(3)]
    d = tmp_path_factory.mktemp("golden_drift_degenerate")
    spark.createDataFrame(events, TABLE_SCHEMAS["events"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))

    rows = dq_distribution_drift(spark, str(d)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["early_cnt"], r["late_cnt"]) == (3, 0)
    assert r["early_share_pct"] == 100.0
    assert r["late_share_pct"] is None and r["drift_pp"] is None


# --- survivorship-funnel fixture -----------------------------------------
# d1="a b c", d2 byte-dup of d1, d3 normalized-dup ("A B C!"),
# d4/d5 near-dups (jaccard 4/6).  raw 5 docs / 23 tokens;
# exact drops d2 (4/20); normalized also drops d3 (3/17); clustered
# drops d5 from the exact tier (3/13).
def test_survivorship_funnel_golden(spark, tmp_path_factory):
    from bigdata_gamedb_etl_spark.operators.dedup import dedup_survivorship_funnel

    docs = [
        _doc(1, "a b c"),
        _doc(2, "a b c"),
        _doc(3, "A B C!"),
        _doc(4, "m n o p q r s"),
        _doc(5, "m n o p q r t"),
    ]
    d = tmp_path_factory.mktemp("golden_funnel")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = {r["tier"]: r for r in dedup_survivorship_funnel(spark, str(d)).collect()}
    assert (rows["1_raw"]["n_docs"], rows["1_raw"]["n_tokens"]) == (5, 23)
    assert (rows["2_exact"]["n_docs"], rows["2_exact"]["n_tokens"]) == (4, 20)
    assert (rows["3_normalized"]["n_docs"], rows["3_normalized"]["n_tokens"]) == (3, 17)
    assert (rows["4_clustered"]["n_docs"], rows["4_clustered"]["n_tokens"]) == (3, 13)
    assert rows["1_raw"]["docs_kept_pct"] == 100.0
    assert rows["2_exact"]["docs_kept_pct"] == 80.0
    assert rows["3_normalized"]["docs_kept_pct"] == 60.0
    assert rows["4_clustered"]["docs_kept_pct"] == 60.0


# --- weighted-sample ranking fixture -------------------------------------
# the A-ES keys are md5-derived and reproducible in plain Python; the
# operator's top-k must equal the Python-computed ranking exactly.
def test_weighted_sample_matches_python_ranking(spark, tmp_path_factory):
    import hashlib
    import math

    from bigdata_gamedb_etl_spark.operators.pipeline import (
        WEIGHTED_SAMPLE_K,
        WEIGHTED_SAMPLE_SEED,
        pipeline_weighted_sample,
    )

    docs = [_doc(i, " ".join(["t"] * (i % 7 + 1))) for i in range(1, 30)]
    d = tmp_path_factory.mktemp("golden_weighted")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = [r["doc_id"] for r in pipeline_weighted_sample(spark, str(d)).collect()]

    def key(doc_id, weight):
        h = hashlib.md5(f"{WEIGHTED_SAMPLE_SEED}_{doc_id}".encode()).hexdigest()
        u = (int(h[:8], 16) + 1) / 4294967296.0
        return -math.log(u) / weight

    ranked = sorted(
        ((key(i, i % 7 + 1), i) for i in range(1, 30)),
    )[:WEIGHTED_SAMPLE_K]
    assert got == [i for _, i in ranked]


# --- lang-ID confusion fixture -------------------------------------------
# hits >= 3 -> 'en'; 1-2 -> 'en-maybe'; 0 -> 'unknown'
def test_langid_confusion_golden(spark, tmp_path_factory):
    from bigdata_gamedb_etl_spark.operators.textops import text_langid_confusion

    docs = [
        (1, "the a of and to in x", "en", "s", 10),   # 6 hits -> en
        (2, "the x y", "en", "s", 7),                 # 1 hit  -> en-maybe
        (3, "x y z", "zh", "s", 5),                   # 0 hits -> unknown
        (4, "the a of w", "zh", "s", 9),              # 3 hits -> en
    ]
    d = tmp_path_factory.mktemp("golden_confusion")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = {
        (r["lang"], r["predicted_lang"]): r
        for r in text_langid_confusion(spark, str(d)).collect()
    }
    assert rows[("en", "en")]["n_docs"] == 1
    assert rows[("en", "en")]["class_share_pct"] == 50.0
    assert rows[("en", "en-maybe")]["class_share_pct"] == 50.0
    assert rows[("zh", "unknown")]["class_share_pct"] == 50.0
    assert rows[("zh", "en")]["class_share_pct"] == 50.0
    assert len(rows) == 4


# --- completeness-profile fixture ----------------------------------------
def test_completeness_profile_golden(spark, tmp_path_factory):
    import datetime as dt

    from bigdata_gamedb_etl_spark.operators.extended import dq_completeness_profile
    from bigdata_gamedb_etl_spark.sources.catalog import TABLE_NAMES

    d = tmp_path_factory.mktemp("golden_completeness")
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    events = [
        (0, ts, 1, "view", 1.0, None),   # null props
        (1, ts, 2, "view", None, "{}"),  # null value
        (2, ts, 3, "view", 2.0, "{}"),
    ]
    docs = [(1, "x", None, "s", 1), (2, "y", "en", "s", 1)]  # one null lang
    for name in TABLE_NAMES:
        if name == "events":
            rows = events
        elif name == "documents":
            rows = docs
        else:
            rows = []
        spark.createDataFrame(rows, TABLE_SCHEMAS[name]).coalesce(
            1
        ).write.mode("overwrite").parquet(str(d / f"{name}.parquet"))

    out = {
        (r["table_name"], r["column_name"]): r
        for r in dq_completeness_profile(spark, str(d)).collect()
    }
    assert len(out) == 18
    assert out[("events", "props")]["n_null"] == 1
    assert out[("events", "value")]["n_null"] == 1
    assert out[("events", "user_id")]["n_null"] == 0
    assert out[("events", "props")]["null_pct"] == 33.3333
    assert out[("documents", "lang")]["n_null"] == 1
    assert out[("documents", "lang")]["null_pct"] == 50.0
    # empty tables keep their rows with NULL pct
    assert out[("orders", "o_custkey")]["n_rows"] == 0
    assert out[("orders", "o_custkey")]["null_pct"] is None


# --- curriculum-phase fixture --------------------------------------------
# integer scores: 2500, 5000, 10000, 10000, 5000; percentile_disc cuts
# c25=c50=5000, c75=10000 -> scores <= 5000 land in phase 1, the
# 10000s exceed c25 and c50 but not c75 -> phase 3.
def test_curriculum_order_golden(spark, tmp_path_factory):
    from bigdata_gamedb_etl_spark.operators.pipeline import (
        pipeline_curriculum_order,
    )

    docs = [
        _doc(1, "a a a a"),
        _doc(2, "a a b b"),
        _doc(3, "a b c d"),
        _doc(4, "a b"),
        _doc(5, "a a a b"),
    ]
    d = tmp_path_factory.mktemp("golden_curriculum")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = {r["doc_id"]: r for r in pipeline_curriculum_order(spark, str(d)).collect()}
    assert {i: rows[i]["score"] for i in rows} == {
        1: 2500, 2: 5000, 3: 10000, 4: 10000, 5: 5000,
    }
    assert {i: rows[i]["phase"] for i in rows} == {1: 1, 2: 1, 5: 1, 3: 3, 4: 3}


# --- round-7 fixtures -----------------------------------------------------
def test_novelty_rate_golden(spark, tmp_path_factory):
    """Doc 1 and 2 share the bigram 'a b'; every other bigram is
    corpus-unique.  Doc 3 has one token -> no bigrams -> absent."""
    from bigdata_gamedb_etl_spark.operators.textops import text_novelty_rate

    docs = [
        _doc(1, "a b c"),     # bigrams {a b, b c}
        _doc(2, "a b d"),     # bigrams {a b, b d}
        _doc(3, "solo"),      # no bigrams
    ]
    d = tmp_path_factory.mktemp("golden_novelty")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = {r["doc_id"]: r for r in text_novelty_rate(spark, str(d)).collect()}
    assert set(rows) == {1, 2}
    for i, uniq in ((1, "b c"), (2, "b d")):
        assert rows[i]["n_distinct_bigrams"] == 2
        assert rows[i]["n_unique_bigrams"] == 1
        assert rows[i]["novelty_rate"] == 0.5


def test_hapax_profile_golden(spark, tmp_path_factory):
    """'a a b c': 4 tokens, 3 types, hapax {b, c} -> ttr 0.75,
    hapax share 2/3."""
    from bigdata_gamedb_etl_spark.operators.textops import text_hapax_profile

    docs = [_doc(1, "a a b c")]
    d = tmp_path_factory.mktemp("golden_hapax")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    r = text_hapax_profile(spark, str(d)).collect()[0]
    assert (r["token_count"], r["type_count"], r["hapax_count"]) == (4, 3, 2)
    assert r["ttr"] == 0.75
    assert r["hapax_share"] == 0.6667


def test_dup_rate_by_source_golden(spark, tmp_path_factory):
    """srcA: 3 docs, one text repeated -> 1 dup (rate 1/3); srcB: all
    distinct -> 0."""
    from bigdata_gamedb_etl_spark.operators.dedup import (
        dq_duplicate_rate_by_source,
    )

    docs = [
        _doc(1, "same text", "srcA"),
        _doc(2, "same text", "srcA"),
        _doc(3, "other", "srcA"),
        _doc(4, "x", "srcB"),
        _doc(5, "y", "srcB"),
    ]
    d = tmp_path_factory.mktemp("golden_duprate")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = {
        r["source"]: r
        for r in dq_duplicate_rate_by_source(spark, str(d)).collect()
    }
    a, b = rows["srcA"], rows["srcB"]
    assert (a["n_docs"], a["n_distinct"], a["dup_docs"]) == (3, 2, 1)
    assert a["dup_rate"] == 0.3333
    assert (b["n_docs"], b["dup_docs"], b["dup_rate"]) == (2, 0, 0.0)


def test_dataset_card_golden(spark, tmp_path_factory):
    """3 docs across 2 sources / 1 lang, one exact dup, token counts
    (2, 2, 4) -> median 2; none reach the high-quality token floor."""
    from bigdata_gamedb_etl_spark.operators.pipeline import (
        pipeline_dataset_card,
    )

    docs = [
        _doc(1, "a b", "s1"),
        _doc(2, "a b", "s2"),
        _doc(3, "w x y z", "s1"),
    ]
    d = tmp_path_factory.mktemp("golden_card")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    r = pipeline_dataset_card(spark, str(d)).collect()[0]
    assert (r["n_docs"], r["n_sources"], r["n_langs"]) == (3, 2, 1)
    assert r["total_tokens"] == 8
    assert r["dup_docs"] == 1
    assert r["high_quality_docs"] == 0
    assert r["p50_tokens"] == 2.0


def test_repeated_spans_golden(spark, tmp_path_factory):
    """One 6-token span shared by 3 docs (twice in the third) -> the
    only surviving row is (span, n_docs=3, n_occurrences=4); every
    other window is unique to its document and dies at df >= 2."""
    from bigdata_gamedb_etl_spark.operators.textops import (
        text_repeated_spans,
    )

    span = "s1 s2 s3 s4 s5 s6"
    docs = [
        _doc(1, f"{span} t1"),
        _doc(2, f"u1 {span}"),
        _doc(3, f"{span} z {span}"),
    ]
    d = tmp_path_factory.mktemp("golden_spans")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = text_repeated_spans(spark, str(d)).collect()
    assert len(rows) == 1
    assert rows[0]["span"] == span
    assert rows[0]["n_docs"] == 3
    assert rows[0]["n_occurrences"] == 4


def test_clustering_coeff_golden(spark, tmp_path_factory):
    """Near-dup graph = a triangle {1,2,3} (identical texts), an
    isolated edge {4,5} (degree-1 endpoints excluded by the >= 2
    filter), and an open wedge 6-7-8 (10-of-12-word overlaps on the
    adjacent pairs, 8-of-14 Jaccard 0.4286 < 0.5 on the closing pair)
    -> coefficients 1.0 for the triangle nodes, 0.0 for the wedge
    center, nothing else."""
    from bigdata_gamedb_etl_spark.operators.graph import (
        graph_clustering_coeff,
    )

    tri_text = "a1 a2 a3 a4 a5"
    pair_text = "b1 b2 b3 b4 b5"
    w = [f"w{i}" for i in range(1, 17)]
    docs = [
        _doc(1, tri_text),
        _doc(2, tri_text),
        _doc(3, tri_text),
        _doc(4, pair_text),
        _doc(5, pair_text),
        _doc(6, " ".join(w[0:12])),
        _doc(7, " ".join(w[2:14])),
        _doc(8, " ".join(w[4:16])),
    ]
    d = tmp_path_factory.mktemp("golden_coeff")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = {
        r["doc_id"]: r for r in graph_clustering_coeff(spark, str(d)).collect()
    }
    assert set(rows) == {1, 2, 3, 7}
    for n in (1, 2, 3):
        assert (rows[n]["degree"], rows[n]["triangles"]) == (2, 1)
        assert rows[n]["clustering_coeff"] == 1.0
    assert (rows[7]["degree"], rows[7]["triangles"]) == (2, 0)
    assert rows[7]["clustering_coeff"] == 0.0


def test_k_anonymity_golden(spark, tmp_path_factory):
    """6 customers: a singleton class, a class of 2, and a class of 3
    -> buckets '1' (1 group / 1 row), '2-4' (2 groups / 5 rows);
    row shares 1/6 and 5/6 under the floor recipe."""
    from bigdata_gamedb_etl_spark.operators.extended import dq_k_anonymity

    cust = [
        # (custkey, name, nationkey, acctbal, mktsegment)
        (1, "c1", 1, 1500.0, "AUTO"),   # class A (nation 1, AUTO, band 1)
        (2, "c2", 1, 1600.0, "AUTO"),   # class A
        (3, "c3", 1, 1999.0, "AUTO"),   # class A  -> k = 3
        (4, "c4", 1, 2500.0, "AUTO"),   # class B (band 2) -> k = 2
        (5, "c5", 1, 2100.0, "AUTO"),   # class B
        (6, "c6", 2, 1500.0, "AUTO"),   # class C (nation 2) -> k = 1
    ]
    d = tmp_path_factory.mktemp("golden_kanon")
    spark.createDataFrame(cust, TABLE_SCHEMAS["customer"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "customer.parquet"))

    rows = {r["k_bucket"]: r for r in dq_k_anonymity(spark, str(d)).collect()}
    assert set(rows) == {"1", "2-4"}
    assert (rows["1"]["n_groups"], rows["1"]["n_rows"]) == (1, 1)
    assert rows["1"]["row_share"] == 0.1667
    assert (rows["2-4"]["n_groups"], rows["2-4"]["n_rows"]) == (2, 5)
    assert rows["2-4"]["row_share"] == 0.8333


def test_ols_fits_emit_zero_rows_on_degenerate_corpus(
    spark, tmp_path_factory
):
    """A one-token corpus has a single (rank, freq) point / a single
    Heaps bucket, so the OLS x-variance n*sxx - sx^2 is 0.  Spark ANSI
    throws DIVIDE_BY_ZERO on double/0 where DuckDB yields NaN; the
    variance guard must instead emit ZERO rows in both engines (the
    oracles carry the same WHERE)."""
    from bigdata_gamedb_etl_spark.operators.textops import (
        text_heaps_law,
        text_zipf_slope,
    )

    docs = [_doc(1, "solo")]
    d = tmp_path_factory.mktemp("golden_degenerate_ols")
    spark.createDataFrame(docs, TABLE_SCHEMAS["documents"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    assert text_zipf_slope(spark, str(d)).collect() == []
    assert text_heaps_law(spark, str(d)).collect() == []
