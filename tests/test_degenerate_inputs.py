"""Degenerate-input robustness sweep over the ENTIRE query registry.

Spark 4 runs ANSI mode ON: double/0 and integer DIV 0 THROW, while
DuckDB yields NULL/NaN/inf for the same input — so an unguarded
denominator is a crash on one engine and a silent parity break on the
other (the recurring ADVICE hazard class: the MRL zero-norm guard, the
mixture-reweight src_tokens guard, the OLS x-variance guard all fixed
single instances of it).  The sf-level testdata never exercises these
paths: every document is non-empty multi-token text and every
embedding has positive norm.

This module closes the class instead of the instances: it rebuilds a
scale-slice directory whose documents table contains the degenerate
shapes real 100 TB crawls are full of —

  * completely empty text,
  * a single-token document,
  * symbols-only text (zero alphanumeric chars),
  * a duplicated one-liner pair (exercises dedup paths at df >= 2),

and whose embeddings table contains an all-zero vector (norm 0) next
to normal vectors — then runs EVERY registered query against it and
asserts none of them throws.  Correct degenerate OUTPUT semantics are
pinned per-op by the golden tests; this sweep only bans crashes and is
the regression net for every future operator.
"""

from __future__ import annotations

import shutil

import pytest

from bigdata_gamedb_etl_spark.registry import all_queries
from bigdata_gamedb_etl_spark.sources.catalog import TABLE_SCHEMAS

SRC_SF_DIR = "/root/testdata/sf0.001"

DEGENERATE_DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (1, "", "en", "degenerate", 0),
    (2, "solo", "en", "degenerate", 4),
    (3, "@#$% !!** ~~", "en", "degenerate", 12),
    (4, "the same short line", "en", "dup_pair", 19),
    (5, "the same short line", "en", "dup_pair", 19),
    (
        6,
        "a perfectly ordinary document with enough tokens to shingle "
        "and enough variety to rank words by frequency in every op",
        "en",
        "normal",
        119,
    ),
]

EMB_DIM = 64

DEGENERATE_EMBS = [
    # vec_id 0 must stay a usable query vector (sim_cosine_topk &
    # friends anchor on QUERY_VEC_ID = 0)
    (0, [0.1 * (i % 7 + 1) for i in range(EMB_DIM)], 1),
    (1, [0.0] * EMB_DIM, 1),  # zero norm — the MRL/NaN hazard shape
    (2, [0.2] * EMB_DIM, 2),
    (3, [(-0.1) ** (i % 2) for i in range(EMB_DIM)], 2),
]


@pytest.fixture(scope="session")
def degenerate_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("degenerate_sf")
    for name in TABLE_SCHEMAS:
        if name in ("documents", "embeddings"):
            continue
        shutil.copy(
            f"{SRC_SF_DIR}/{name}.parquet", str(d / f"{name}.parquet")
        )
    spark.createDataFrame(
        DEGENERATE_DOCS, TABLE_SCHEMAS["documents"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    spark.createDataFrame(
        DEGENERATE_EMBS, TABLE_SCHEMAS["embeddings"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(d / "embeddings.parquet")
    )
    return str(d)


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_survives_degenerate_corpus(name, spark, degenerate_sf_dir):
    df = all_queries()[name](spark, degenerate_sf_dir)
    df.collect()  # any ANSI DIVIDE_BY_ZERO / INVALID_ARRAY_INDEX throws here


# ---------------------------------------------------------------------------
# Degenerate EVENTS feed: the ingestion surface where nulls are the
# norm, not the exception — null ts (unparseable timestamps), null
# user/event ids, unknown types, null values, malformed JSON props,
# and a duplicated event_id.  The DQ operators HANDLE these shapes by
# design (dq_event_conformity counts them); this sweep asserts that
# every OTHER operator at least survives them.

from datetime import datetime as _dt  # noqa: E402

DEGENERATE_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (1, None, 7, "click", 1.0, '{"k": 1}'),
    (2, _dt(2024, 1, 1, 0, 0, 1), None, "click", None, "not json"),
    (3, _dt(2024, 1, 1, 0, 0, 2), 7, None, -1.5, None),
    (None, _dt(2024, 1, 1, 0, 0, 3), 8, "mystery_type", 0.0, "{}"),
    (5, _dt(2024, 1, 1, 0, 0, 4), 8, "purchase", 9.99, '{"k": 2}'),
    (5, _dt(2024, 1, 1, 0, 0, 5), 9, "view", 0.0, '{"k": 3}'),
    (6, _dt(2024, 1, 2, 12, 0, 0), 9, "error", 3.5, '{"k": 4}'),
]


@pytest.fixture(scope="session")
def degenerate_events_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("degenerate_events")
    for name in TABLE_SCHEMAS:
        if name == "events":
            continue
        shutil.copy(
            f"{SRC_SF_DIR}/{name}.parquet", str(d / f"{name}.parquet")
        )
    spark.createDataFrame(
        DEGENERATE_EVENTS, TABLE_SCHEMAS["events"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(d / "events.parquet")
    )
    return str(d)


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_survives_degenerate_events(
    name, spark, degenerate_events_dir
):
    # the FULL registry, not a static source-scan filter: a first cut
    # matched 'events' in the function source and silently skipped
    # queries that reach the table through module-level constants
    # (dq_key_skew_profile via _SKEW_KEYS) or same-module delegation
    # (dq_quarantine_mart); queries that never touch events re-run on
    # their sf0.001 copies — redundant but cheap, and the sweep can
    # never under-match again.
    all_queries()[name](spark, degenerate_events_dir).collect()


def test_zero_norm_vector_never_reaches_a_cosine_topk(
    spark, degenerate_sf_dir
):
    """The sharper form of the sweep's no-crash bar for the sim
    family: vec_id=1 (the all-zero embedding) must be ABSENT from
    every cosine-ranked result — an unfiltered zero vector scores
    0/0 = NaN, and NaN sorts greatest in DESC order, so its presence
    would mean it silently occupies a top-k slot."""
    from bigdata_gamedb_etl_spark.operators import similarity as sim

    for q in (
        sim.sim_cosine_topk,
        sim.sim_ann_lsh_topk,
        sim.sim_knn_top1,
        sim.sim_sq8_topk,
        sim.sim_pq_topk,
        sim.sim_ivf_topk,
        sim.sim_ivf_multiprobe_topk,
    ):
        ids = {r["vec_id"] for r in q(spark, degenerate_sf_dir).collect()}
        assert 1 not in ids, f"{q.__name__} ranked the zero-norm vector"


@pytest.fixture(scope="session")
def zero_query_sf_dir(spark, tmp_path_factory):
    """Same corpus, but the ANCHOR vector (vec_id = QUERY_VEC_ID = 0)
    is itself all-zero — the query side of every cosine op vanishes
    behind the _emb_cosine filter."""
    d = tmp_path_factory.mktemp("zero_query_sf")
    for name in TABLE_SCHEMAS:
        if name in ("documents", "embeddings"):
            continue
        shutil.copy(
            f"{SRC_SF_DIR}/{name}.parquet", str(d / f"{name}.parquet")
        )
    spark.createDataFrame(
        DEGENERATE_DOCS, TABLE_SCHEMAS["documents"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    embs = [(0, [0.0] * EMB_DIM, 1)] + [
        (i, e, lbl) for i, e, lbl in DEGENERATE_EMBS[2:]
    ]
    spark.createDataFrame(
        embs, TABLE_SCHEMAS["embeddings"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(d / "embeddings.parquet")
    )
    return str(d)


def test_zero_norm_query_vector_yields_empty_topk(
    spark, zero_query_sf_dir
):
    """When the anchor vector itself has zero norm, cosine against it
    is undefined for EVERY candidate: the query-anchored ops must
    return an empty result with their normal schema (ivf/pq previously
    crashed on .first() returning None) rather than throw or rank by
    NaN."""
    from bigdata_gamedb_etl_spark.operators import similarity as sim

    for q in (
        sim.sim_cosine_topk,
        sim.sim_ann_lsh_topk,
        sim.sim_sq8_topk,
        sim.sim_pq_topk,
        sim.sim_ivf_topk,
        sim.sim_ivf_multiprobe_topk,
        sim.sim_ivfpq_residual_topk,
    ):
        rows = q(spark, zero_query_sf_dir).collect()
        assert rows == [], f"{q.__name__} returned rows for a zero query"


# ---------------------------------------------------------------------------
# r12 (r11 verdict item 5): pinned degenerate-OUTPUT invariants for the
# r11 newcomers — the sweep above only bans crashes; these pin the
# correct degenerate semantics.


def test_cut_spans_emit_returns_short_docs_uncut(
    spark, degenerate_sf_dir
):
    """Every degenerate doc is shorter than the SS_W=8 gram window, so
    the cut list is EMPTY for all of them — and an empty cut list must
    mean 'returned uncut', never 'dropped': the emit query's contract
    is one output row per corpus document with kept == orig and
    clean_text == the token-joined original."""
    from bigdata_gamedb_etl_spark.operators.dedup import (
        SS_W,
        dedup_cut_spans_emit,
        dedup_substring_spans,
    )

    # fixture contract: docs 1-5 carry 0/1/3/4/4 tokens, all < SS_W
    assert SS_W > 4
    spans = dedup_substring_spans(spark, degenerate_sf_dir).collect()
    short_docs = {1, 2, 3, 4, 5}
    assert all(r["doc_id"] not in short_docs for r in spans)
    emit = {
        r["doc_id"]: r
        for r in dedup_cut_spans_emit(spark, degenerate_sf_dir).collect()
    }
    assert set(emit) == {1, 2, 3, 4, 5, 6}, "emit must cover every doc"
    spanned = {r["doc_id"] for r in spans}
    for doc_id, r in emit.items():
        if doc_id not in spanned:
            assert r["kept_tokens"] == r["orig_tokens"], r
            assert r["removed_tokens"] == 0, r
    # the empty doc specifically: zero tokens in, zero out, empty text
    assert emit[1]["orig_tokens"] == 0
    assert emit[1]["clean_text"] == ""
    # doc 2 ("solo"): single token survives verbatim
    assert emit[2]["clean_text"] == "solo"


def test_kcore_with_no_kcore_in_graph_is_empty(spark, degenerate_sf_dir):
    """The degenerate corpus's near-dup graph is exactly ONE edge (the
    duplicated one-liner pair, docs 4/5) — a graph with no 2-core at
    all: both endpoints have degree 1 < k and must peel, so k-core
    must return an EMPTY frame with its normal schema rather than
    throw on the empty survivor aggregations (every groupBy/join in
    the peel loop runs over zero rows by round 2)."""
    from bigdata_gamedb_etl_spark.operators.dedup import (
        dedup_ngram_jaccard_pairs,
    )
    from bigdata_gamedb_etl_spark.operators.graph import (
        graph_kcore_membership,
    )

    pairs = {
        (r["d1"], r["d2"])
        for r in dedup_ngram_jaccard_pairs(spark, degenerate_sf_dir).collect()
    }
    assert pairs == {(4, 5)}, "fixture drifted: expected the dup pair only"
    df = graph_kcore_membership(spark, degenerate_sf_dir)
    assert df.columns == ["doc_id", "core_degree"]
    assert df.collect() == []


def test_temperature_mixture_single_language_keeps_everything(
    spark, tmp_path_factory
):
    """A one-language corpus is the rate_pct = 100 boundary: w = sum_w
    so target == total (up to floor), the keep rate clamps at 100, and
    EVERY doc passes the md5 gate — n_kept == n_docs exactly."""
    import shutil as _sh

    from bigdata_gamedb_etl_spark.operators.pipeline import (
        pipeline_temperature_mixture,
    )

    d = tmp_path_factory.mktemp("single_lang_sf")
    for name in TABLE_SCHEMAS:
        if name == "documents":
            continue
        _sh.copy(f"{SRC_SF_DIR}/{name}.parquet", str(d / f"{name}.parquet"))
    docs = [
        (i, f"doc number {i} with some text", "zz", "mono", 25)
        for i in range(1, 41)
    ]
    spark.createDataFrame(
        docs, TABLE_SCHEMAS["documents"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    rows = pipeline_temperature_mixture(spark, str(d)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["lang"] == "zz"
    assert r["rate_pct"] == 100
    assert r["n_kept"] == r["n_docs"] == 40
