"""LLM-data-pipeline quality gates: ANN recall vs the exact baseline,
MinHash-LSH recall vs exact Jaccard, df-cap harmlessness at test SF,
and the no-driver-collect contract on registered query paths.
"""

from __future__ import annotations

import pytest

from bigdata_gamedb_etl_spark.operators import dedup, similarity

#: Every SF-parametrized invariant runs at both test scales.
SF_DIR_PATHS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_ann_lsh_recall_vs_exact(spark, sf):
    exact = [r["vec_id"] for r in similarity.sim_cosine_topk(spark, sf).collect()]
    ann = {r["vec_id"] for r in similarity.sim_ann_lsh_topk(spark, sf).collect()}
    recall = len(ann & set(exact)) / len(exact)
    assert recall >= 0.9, f"ANN LSH recall {recall} < 0.9 at {sf}"


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf):
    exact = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard_pairs(spark, sf).collect()
    }
    lsh = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.dedup_minhash_lsh_pairs(spark, sf).collect()
    }
    assert exact, f"no exact near-dup pairs at {sf} — fixture regressed"
    hit = [p for p in exact if p in lsh]
    recall = len(hit) / len(exact)
    assert recall >= 0.9, f"MinHash LSH recall {recall} < 0.9 at {sf}"
    # the verify stage is exact: every surfaced pair carries the true
    # Jaccard, and precision is 1.0 by construction (J ≥ threshold)
    for p in hit:
        assert lsh[p] == pytest.approx(exact[p], abs=1e-4)
    assert all(j >= dedup.JACCARD_THRESHOLD for j in lsh.values())


def test_shingle_df_cap_is_inactive_at_test_sf(spark, duck, sf_dir):
    # the cap exists for the 100 TB hot-shingle case; at test SF every
    # doc-frequency must sit far below it, so the exact oracle match in
    # test_oracle_parity proves no qualifying pair is lost
    hist = dedup.dedup_shingle_docfreq_hist(spark, sf_dir).collect()
    max_df = max(r["doc_freq"] for r in hist)
    assert max_df <= dedup.SHINGLE_DF_CAP, (
        f"max shingle df {max_df} exceeds cap — the capped exact tier "
        "would drop signal at this SF; raise SHINGLE_DF_CAP or route "
        "this corpus to the LSH tier"
    )


def test_no_driver_collect_in_registered_query_modules():
    """README contract: no registered query path collects the corpus to
    the driver.  (`.first()` on a one-row query lookup is allowed —
    that's model/plan-sized traffic, not data-sized.)"""
    import inspect

    from bigdata_gamedb_etl_spark.operators import (
        core,
        extended,
        joins,
        marts,
        multimodal,
        sqlqueries,
        textops,
        tpch,
        windows,
    )

    for mod in (
        dedup, similarity, core, extended, joins, marts,
        multimodal, sqlqueries, textops, tpch, windows,
    ):
        src = inspect.getsource(mod)
        assert ".collect()" not in src, f"{mod.__name__} collects to the driver"


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_ivf_multiprobe_recall_dominates_single(spark, sf):
    """Multi-probe IVF shares sim_ivf_topk's deterministic codebook
    and probes a SUPERSET of its cells, so its scanned candidate set
    is a superset and recall@k can never drop — plus an absolute
    floor (measured 0.90 / 0.90 at the two SFs on the r11
    integer-Lloyd codebook, 0.80 at sf0.1; pinned well under)."""
    exact = [r["vec_id"] for r in similarity.sim_cosine_topk(spark, sf).collect()]
    sgl = {r["vec_id"] for r in similarity.sim_ivf_topk(spark, sf).collect()}
    mp = {
        r["vec_id"]
        for r in similarity.sim_ivf_multiprobe_topk(spark, sf).collect()
    }
    r_sgl = len(sgl & set(exact)) / len(exact)
    r_mp = len(mp & set(exact)) / len(exact)
    assert r_mp >= r_sgl, (r_mp, r_sgl)
    assert r_mp >= 0.7, f"multi-probe IVF recall {r_mp} < 0.7 at {sf}"


def test_ivf_recall_curve_monotone_and_exact_at_full_probe(spark):
    """The nprobe ladder shares ONE codebook, so each step's candidate
    set is a superset of the last: candidates and recall must be
    non-decreasing in nprobe, and at nprobe = IVF_CELLS the scan covers
    the whole corpus with the brute-force query's exact ranking formula
    and tie-break — recall is exactly 1.0 by construction."""
    sf = SF_DIR_PATHS[0]
    rows = similarity.sim_ivf_recall_curve(spark, sf).collect()
    assert [r["nprobe"] for r in rows] == list(
        similarity.IVF_CURVE_NPROBES
    )
    cands = [r["candidates"] for r in rows]
    recalls = [r["recall"] for r in rows]
    assert cands == sorted(cands), cands
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0, recalls
    assert all(r["hits"] <= similarity.TOP_K for r in rows)


def test_lsh_band_ladder_monotone_and_subset_of_exact(spark):
    """Nested band boundaries (32 perms split 2/4/8/16 ways) make each
    finer setting's candidate set a superset of the coarser one's, so
    candidates / verified pairs / hits / recall are all non-decreasing
    in bands; and because verification applies the exact Jaccard
    threshold (df cap inactive at test SF), every verified pair is in
    the exact pair set — hits == verified_pairs."""
    from bigdata_gamedb_etl_spark.operators import dedup

    rows = dedup.dedup_lsh_band_ladder(spark, SF_DIR_PATHS[0]).collect()
    assert [r["bands"] for r in rows] == list(dedup.LSH_LADDER_BANDS)
    for col in ("candidates", "verified_pairs", "hits", "recall"):
        vals = [r[col] for r in rows]
        assert vals == sorted(vals), (col, vals)
    for r in rows:
        assert r["hits"] == r["verified_pairs"], tuple(r)
        assert r["rows_per_band"] * r["bands"] == dedup.MINHASH_PERMS


def test_waterfill_conserves_budget_and_respects_capacity(spark):
    """Waterfill solver invariants at both test SFs: no source is
    allocated beyond its above-floor capacity, round-1 never exceeds
    the fair share, and the total allocation never exceeds the budget
    (pool // DENOM) beyond 4dp rounding slack on the proportional
    round-2 grants."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    for sf in SF_DIR_PATHS:
        rows = pipeline.pipeline_mixture_waterfill(spark, sf).collect()
        if not rows:
            continue
        pool = sum(r["avail_tokens"] for r in rows)
        budget = pool // pipeline.WATERFILL_BUDGET_DENOM
        slack = 0.0001 * len(rows)  # 4dp quantization per grant
        for r in rows:
            assert r["alloc_round1"] <= r["fair_share"]
            alloc = r["alloc_round1"] + r["alloc_round2"]
            assert alloc <= r["avail_tokens"] + 0.0001, tuple(r)
            assert 0.0 <= r["fill_pct"] <= 100.0001, tuple(r)
        total = sum(r["alloc_round1"] + r["alloc_round2"] for r in rows)
        assert total <= budget + slack, (total, budget)


def test_no_round_on_double_average_policy():
    """r8 grep-clean policy closing the w10 hazard class: no operator
    module may ROUND a double AVERAGE (Spark half-up vs DuckDB
    half-even on representable halves, fed different doubles by
    partition-order sums).  Averages go through _rounding._avg_dec /
    the floor recipe.  games.py is the one documented exception — its
    contract is byte-exact fidelity to the reference's own Spark
    ROUND(avg) outputs."""
    import glob
    import os

    root = os.path.join(
        os.path.dirname(__file__), "..", "bigdata_gamedb_etl_spark"
    )
    offenders = []
    for f in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        if os.path.basename(f) == "games.py":
            continue
        src = open(f).read()
        if "F.round(F.avg(" in src or "ROUND(AVG(" in src:
            offenders.append(os.path.basename(f))
    assert not offenders, (
        f"ROUND-on-double-average reintroduced in {offenders} — use "
        "_rounding._avg_dec (exact DECIMAL sum + floor recipe) and "
        "mirror it in the oracle"
    )


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_sq8_recall_vs_exact(spark, sf):
    exact = [r["vec_id"] for r in similarity.sim_cosine_topk(spark, sf).collect()]
    sq8 = {r["vec_id"] for r in similarity.sim_sq8_topk(spark, sf).collect()}
    recall = len(sq8 & set(exact)) / len(exact)
    assert recall >= 0.9, f"SQ8 recall {recall} < 0.9 at {sf}"


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_cm_sketch_estimates_bound_exact_counts(spark, sf):
    """Count-min guarantees: est >= exact always, and with d=4 rows of
    width w the overcount stays within a few multiples of N/w for
    every reported heavy hitter.  Also: the reported top token must be
    the true top token (heavy hitters dominate by construction)."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators.sketches import (
        _CM_TOKS,
        CM_WIDTH,
        sketch_cm_heavy_hitters,
    )
    from bigdata_gamedb_etl_spark.sources.catalog import table

    tok = table(spark, sf, "documents").select(
        F.explode(F.expr(_CM_TOKS)).alias("token")
    )
    exact = {
        r["token"]: r["cnt"]
        for r in tok.groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    n_total = sum(exact.values())
    est_rows = sketch_cm_heavy_hitters(spark, sf).collect()
    assert est_rows, "CM sketch returned no heavy hitters"

    true_top = max(exact.items(), key=lambda kv: (kv[1], kv[0]))[0]
    # the reported #1 must estimate at least as much as the true top's
    # exact count (CM never undercounts, and the candidate sample
    # contains every genuinely heavy token)
    assert est_rows[0]["est_count"] >= exact[true_top]

    bound = 8 * n_total / CM_WIDTH  # loose deterministic overcount cap
    for r in est_rows:
        ex = exact[r["token"]]
        assert r["est_count"] >= ex, f"CM undercounted {r['token']}"
        assert r["est_count"] - ex <= bound, (
            f"CM overcount {r['est_count'] - ex} > {bound} for {r['token']}"
        )


def test_round5_conservation_invariants(spark):
    """Cross-query conservation laws over the round-5 additions — the
    cheap algebraic checks an oracle mismatch would not localize:
    attributed purchases partition ALL purchases; cumulative users end
    at the true distinct total; the incremental mart conserves order
    count; bucket doc counts cover every non-empty doc; normalized
    dedup can only merge groups relative to byte-exact dedup."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators import (
        behavior,
        dedup as dd,
        marts,
        pipeline,
        windows as w,
    )
    from bigdata_gamedb_etl_spark.sources.catalog import table

    sf = "/root/testdata/sf0.01"
    events = table(spark, sf, "events")
    docs = table(spark, sf, "documents")
    orders = table(spark, sf, "orders")

    attr = behavior.attribution_last_touch(spark, sf).collect()
    n_purchases = events.where(F.col("event_type") == "purchase").count()
    assert sum(r["purchases"] for r in attr) == n_purchases

    curve = w.w12_cumulative_distinct_users(spark, sf).collect()
    totals = [r["cum_users"] for r in curve]
    assert totals == sorted(totals), "cumulative curve must be monotone"
    assert totals[-1] == events.select("user_id").distinct().count()

    mart = marts.mart_incremental_refresh(spark, sf)
    agg = mart.agg(F.sum("order_count"), F.count("*")).first()
    assert agg[0] == orders.count()
    assert agg[1] == orders.select("o_custkey").distinct().count()

    buckets = pipeline.pipeline_length_buckets(spark, sf).collect()
    docs_with_tokens = docs.where(
        F.size(F.expr("filter(split(text, ' '), t -> t <> '')")) >= 1
    ).count()
    assert sum(r["docs"] for r in buckets) == docs_with_tokens
    for r in buckets:
        assert 0.0 <= r["pad_waste_pct"] < 100.0

    norm_groups = dd.dedup_normalized_keeper(spark, sf)
    exact_groups = dd.dedup_exact_keeper(spark, sf)
    assert norm_groups.count() <= exact_groups.count()
    assert norm_groups.agg(F.sum("dup_count")).first()[0] == docs.count()


def test_pagerank_invariants(spark):
    """PageRank conservation laws (now on exact fixed-point ranks —
    also oracle-verified in test_oracle_parity): total mass 1 within
    the integer-floor leakage bound, every rank at least the teleport
    floor (minus the 8dp output quantization), coverage = graph nodes,
    and within a symmetric 2-clique both members share one rank
    (identical integer ops => exactly equal fixed point)."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators import graph

    sf = "/root/testdata/sf0.01"
    pr = graph.graph_pagerank(spark, sf).collect()
    assert pr, "pair graph unexpectedly empty at sf0.01"
    n = len(pr)
    total = sum(r["pagerank"] for r in pr)
    # each DIV floors away <1e-12 of mass per node/edge per iteration;
    # |E| and n are ~1e3 here so the drift bound is ~1e-7, plus n·5e-9
    # of unbiased 8dp output rounding
    assert abs(total - 1.0) < 1e-5, f"rank mass {total} != 1"
    floor = (1.0 - graph.PAGERANK_DAMPING) / n
    assert all(r["pagerank"] >= floor - 1e-7 for r in pr)

    edges = graph._sym_edges(spark, sf)
    assert n == edges.select("src").distinct().count()

    # nodes of degree 1 whose sole neighbor also has degree 1 form
    # isolated 2-cliques: both endpoints must have identical rank
    deg = {r["src"]: r["cnt"] for r in
           edges.groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    rank = {r["doc_id"]: r["pagerank"] for r in pr}
    for e in edges.collect():
        if deg[e["src"]] == 1 and deg[e["dst"]] == 1:
            assert rank[e["src"]] == rank[e["dst"]]


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_ivf_pq_composed_recall_and_probe_discipline(spark, sf):
    """The composed IVFPQ tier must stay a usable ANN (recall@20 ≥ 0.3
    vs exact; measured 0.40 / 0.70 at the two SFs, 0.45 at sf0.1) and
    must honor the coarse probe: results land in at most IVF_NPROBE
    distinct cells, and every returned score equals what the pure-PQ
    scorer assigns that vector (same sub-codebooks, so the composition
    only FILTERS candidates, never re-scores them differently)."""
    exact = [
        r["vec_id"] for r in similarity.sim_cosine_topk(spark, sf).collect()
    ]
    rows = similarity.sim_ivf_pq_topk(spark, sf).collect()
    got = {r["vec_id"] for r in rows}
    recall = len(got & set(exact)) / len(exact)
    assert recall >= 0.3, f"IVFPQ recall {recall} < 0.3 at {sf}"
    assert len(rows) <= similarity.TOP_K
    assert len({r["cell"] for r in rows}) <= similarity.IVF_NPROBE
    pq_scores = {
        r["vec_id"]: r["approx_cosine"]
        for r in similarity.sim_pq_topk(spark, sf).collect()
    }
    for r in rows:
        if r["vec_id"] in pq_scores:
            assert r["approx_cosine"] == pq_scores[r["vec_id"]], r


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_ivfpq_residual_recall_and_probe_discipline(spark, sf):
    """Residual IVFADC (r12): recall@20 vs exact must be ≥ the
    composed no-residual tier's at the same SF (r13 32×2 setting:
    0.55/0.80/0.65 vs 0.55/0.75/0.60 at sf0.001/0.01/0.1 — the
    per-cell residual codebooks can only refine the fine quantizer;
    the shared coarse stage bounds both).  Probe discipline: ≤
    IVF_NPROBE distinct cells in the output.  Determinism at the
    cheap SF."""
    exact = {
        r["vec_id"] for r in similarity.sim_cosine_topk(spark, sf).collect()
    }
    rows = similarity.sim_ivfpq_residual_topk(spark, sf).collect()
    got = {r["vec_id"] for r in rows}
    recall = len(got & exact) / len(exact)
    nores = {
        r["vec_id"] for r in similarity.sim_ivf_pq_topk(spark, sf).collect()
    }
    recall_nores = len(nores & exact) / len(exact)
    assert recall >= recall_nores, (
        f"residual recall {recall} < no-residual {recall_nores} at {sf}"
    )
    assert len(rows) <= similarity.TOP_K
    assert len({r["cell"] for r in rows}) <= similarity.IVF_NPROBE
    if sf.endswith("0.001"):
        again = similarity.sim_ivfpq_residual_topk(spark, sf).collect()
        assert [tuple(r) for r in rows] == [tuple(r) for r in again]


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_pq_recall_vs_exact(spark, sf):
    """PQ-ADC top-k must overlap the exact cosine top-k: PQ_M
    subspaces × 16 codes on quantized-unit 64-dim vectors — recall@20
    well above the random baseline (20/N; measured 0.80 / 0.80 / 0.70
    at sf0.001/0.01/0.1 on the r13 32×2 integer-Lloyd sub-codebooks;
    the r11 16×4 setting read 0.65/0.70/0.55).  Also locks
    determinism: two runs produce identical rankings (the integer fit
    is exact, not merely seeded)."""
    exact = [r["vec_id"] for r in similarity.sim_cosine_topk(spark, sf).collect()]
    pq1 = [r["vec_id"] for r in similarity.sim_pq_topk(spark, sf).collect()]
    recall = len(set(pq1) & set(exact)) / len(exact)
    assert recall >= 0.5, f"PQ recall {recall} < 0.5 at {sf}"
    if sf.endswith("0.001"):  # determinism probe once, at the cheap SF
        pq2 = [r["vec_id"] for r in similarity.sim_pq_topk(spark, sf).collect()]
        assert pq1 == pq2, "PQ ranking is not deterministic"


# --------------------------------------------------------------------------
def _ppm_bytes(w, h, pixels):
    header = b"P6\n# fixture comment\n" + f"{w} {h}\n255\n".encode()
    return header + bytes(v for p in pixels for v in p)


def _bmp_bytes(w, h, pixels, bpp=24, top_down=False):
    import struct

    bytespp = bpp // 8
    stride = (w * bytespp + 3) // 4 * 4
    rows = [pixels[r * w : (r + 1) * w] for r in range(h)]
    raster = bytearray()
    for row in rows if top_down else rows[::-1]:
        rb = bytearray()
        for r, g, b in row:
            rb += bytes([b, g, r] + ([0] if bytespp == 4 else []))
        rb += b"\x00" * (stride - len(rb))
        raster += rb
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, 0,
        len(raster), 0, 0, 0, 0,
    )
    return hdr + info + bytes(raster)


def _expected_features(pixels):
    n = len(pixels)
    mr = sum(p[0] for p in pixels) / n / 255.0
    mg = sum(p[1] for p in pixels) / n / 255.0
    mb = sum(p[2] for p in pixels) / n / 255.0
    luma = 0.299 * mr + 0.587 * mg + 0.114 * mb
    return [round(v, 6) for v in (mr, mg, mb, luma)]


def test_real_decode_tier_ppm_bmp_end_to_end(spark):
    """The decode tier is REAL for codec-free formats: PPM (P6) and
    uncompressed 24/32-bit BMP fixtures flow through the exact
    mapInPandas plumbing mm_feature_extract ships, producing true
    pixel statistics (channel means + luminance); a non-image payload
    takes the deterministic fallback.  BMP covers stride padding,
    BGR(A) channel order, and top-down (negative height) layouts."""
    from bigdata_gamedb_etl_spark.operators import multimodal

    ppm_px = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
    bmp_px = [(10, 20, 30), (40, 50, 60), (70, 80, 90)]  # 3x1: stride pads
    bmp32_px = [(1, 2, 3), (4, 5, 6), (200, 100, 50), (0, 0, 255)]
    payloads = [
        (1, _ppm_bytes(2, 2, ppm_px)),
        (2, _bmp_bytes(3, 1, bmp_px)),
        (3, _bmp_bytes(2, 2, bmp32_px, bpp=32, top_down=True)),
        (4, b"just a text payload, not an image"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in df.mapInPandas(
            multimodal._extract_batches, schema=multimodal.FEATURE_SCHEMA
        ).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (2, 2)
    assert out[1]["features"] == _expected_features(ppm_px)
    assert (out[2]["width"], out[2]["height"]) == (3, 1)
    assert out[2]["features"] == _expected_features(bmp_px)
    assert (out[3]["width"], out[3]["height"]) == (2, 2)
    assert out[3]["features"] == _expected_features(bmp32_px)
    # non-image: deterministic stand-in, not a crash
    w, h, feats = multimodal.fake_decode_features(payloads[3][1])
    assert (out[4]["width"], out[4]["height"]) == (w, h)
    assert out[4]["features"] == feats
    assert out[4]["payload_bytes"] == len(payloads[3][1])


def test_real_resize_box_filter_pixel_means(spark):
    """r6 verdict item 4: mm_resize's codec-free tier is REAL — a 2×
    box-filter downsample averages exact 2×2 blocks with half-up
    integer rounding, the output is a valid P6 PPM that decodes back,
    and pixel means survive the resample.  Covers PPM and BMP inputs,
    the upscale clamp, and the end-to-end tier routing through the
    shipped mapInPandas batch function."""
    from bigdata_gamedb_etl_spark.operators import multimodal

    # 4x4 PPM: four flat 2x2 quadrants -> 2x2 output == quadrant colors
    q = [(10, 20, 30), (200, 100, 0), (0, 0, 0), (255, 255, 255)]
    px = []
    for r in range(4):
        for c in range(4):
            px.append(q[(r // 2) * 2 + (c // 2)])
    ppm = _ppm_bytes(4, 4, px)
    w, h, out = multimodal.real_resize(ppm, (2, 2))
    assert (w, h) == (2, 2)
    decoded = multimodal._ppm_pixels(out)
    assert [tuple(decoded[r, c]) for r in range(2) for c in range(2)] == q

    # non-uniform block: half-up integer rounding of the block mean
    px2 = [(0, 0, 0), (1, 0, 0), (2, 0, 0), (4, 0, 0)]  # mean R = 1.75 -> 2
    _, _, out2 = multimodal.real_resize(_ppm_bytes(2, 2, px2), (1, 1))
    assert tuple(multimodal._ppm_pixels(out2)[0, 0]) == (2, 0, 0)

    # BMP input (bottom-up, stride-padded) resizes identically
    _, _, out3 = multimodal.real_resize(_bmp_bytes(4, 4, px), (2, 2))
    dec3 = multimodal._ppm_pixels(out3)
    assert [tuple(dec3[r, c]) for r in range(2) for c in range(2)] == q

    # upscale clamps to replication
    _, _, out4 = multimodal.real_resize(_ppm_bytes(1, 1, [(9, 8, 7)]), (2, 2))
    dec4 = multimodal._ppm_pixels(out4)
    assert all(
        tuple(dec4[r, c]) == (9, 8, 7) for r in range(2) for c in range(2)
    )

    # end-to-end through the shipped batch fn: image rows decode, text
    # rows take the md5-hex fallback (32 bytes, oracle-matched form)
    import hashlib

    df = spark.createDataFrame(
        [(1, ppm), (2, b"plain text payload")],
        "doc_id long, payload binary",
    )
    rows = {
        r["doc_id"]: r
        for r in df.mapInPandas(
            multimodal.resize_batches(2, 2), multimodal.RESIZE_SCHEMA
        ).collect()
    }
    assert rows[1]["tier"] == "decoded"
    assert rows[1]["out_bytes"] == len(out)
    assert rows[1]["out_md5"] == hashlib.md5(out).hexdigest()
    hexd = hashlib.md5(b"plain text payload" + b"2x2").hexdigest()
    assert rows[2]["tier"] == "fallback"
    assert rows[2]["out_bytes"] == 32
    assert rows[2]["out_md5"] == hashlib.md5(hexd.encode()).hexdigest()


def test_decode_image_rejects_codec_formats_and_garbage():
    """NotImplementedError stays scoped to codec formats; payloads that
    merely start with the magic bytes fall out as errors (and the
    batch path converts them to the stub) instead of looping on
    garbage dimensions."""
    import pytest as _pytest

    from bigdata_gamedb_etl_spark.operators import multimodal

    # PNG is now a REAL tier (r8): truncated magic-only payloads fall
    # out as ValueError; the codec-class NotImplementedError is
    # reserved for genuinely unsupported PNG variants (16-bit,
    # palette, interlaced) — covered in the PNG tier test below
    with _pytest.raises(ValueError):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n....")
    with _pytest.raises((ValueError, NotImplementedError)):
        multimodal.decode_image(b"BM" + b"W cars are overrated " * 4)
    with _pytest.raises((ValueError, NotImplementedError)):
        multimodal.decode_image(b"P6 do not parse as ints")
    # truncated real PPM header with huge claimed dims: no giant alloc,
    # just a clean truncation error
    with _pytest.raises(ValueError):
        multimodal.decode_image(b"P6\n30000 30000\n255\nabc")


def _png_bytes(w, h, pixels, ctype=2, filters=None, split_idat=False):
    """Encode a non-interlaced 8-bit PNG fixture, applying the
    requested per-row filter types FORWARD (so the decoder's unfilter
    of every spec §9 type is exercised against known pixels)."""
    import struct as _s
    import zlib

    ch = {0: 1, 2: 3, 6: 4}[ctype]
    raw_rows = []
    for r in range(h):
        row = bytearray()
        for c in range(w):
            p = pixels[r * w + c]
            if ctype == 0:
                row += bytes([p[0]])
            elif ctype == 2:
                row += bytes(p[:3])
            else:
                row += bytes(list(p[:3]) + [p[3] if len(p) > 3 else 255])
        raw_rows.append(bytes(row))
    filters = filters or [0] * h
    stream = bytearray()
    prev = bytes(len(raw_rows[0]))
    for r, row in enumerate(raw_rows):
        f = filters[r]
        enc = bytearray()
        for i in range(len(row)):
            a = row[i - ch] if i >= ch else 0
            b = prev[i]
            cc = prev[i - ch] if i >= ch else 0
            if f == 0:
                v = row[i]
            elif f == 1:
                v = (row[i] - a) & 0xFF
            elif f == 2:
                v = (row[i] - b) & 0xFF
            elif f == 3:
                v = (row[i] - (a + b) // 2) & 0xFF
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                v = (row[i] - pr) & 0xFF
            enc.append(v)
        stream += bytes([f]) + bytes(enc)
        prev = row

    def chunk(tag, body):
        return (
            _s.pack(">I", len(body))
            + tag
            + body
            + _s.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = _s.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    z = zlib.compress(bytes(stream))
    if split_idat:
        mid = len(z) // 2
        idat = chunk(b"IDAT", z[:mid]) + chunk(b"IDAT", z[mid:])
    else:
        idat = chunk(b"IDAT", z)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + idat + chunk(b"IEND", b"")
    )


def test_real_decode_tier_png_end_to_end(spark):
    """r7 verdict item 5: the PNG tier is REAL — non-interlaced 8-bit
    gray/RGB/RGBA fixtures (zlib-inflated, every spec §9 filter type
    unfiltered, multi-IDAT concatenated) flow through the exact
    mapInPandas plumbing mm_feature_extract ships and produce true
    pixel statistics; unsupported PNG variants route to the fallback
    tier with the codec-class error."""
    import pytest as _pytest

    from bigdata_gamedb_etl_spark.operators import multimodal

    # 3x4 RGB exercising filters None/Sub/Up/Average, plus a Paeth row
    rgb_px = [
        (255, 0, 0), (0, 255, 0), (0, 0, 255),
        (10, 20, 30), (40, 50, 60), (70, 80, 90),
        (200, 100, 50), (5, 250, 125), (33, 66, 99),
        (0, 0, 0), (255, 255, 255), (128, 128, 128),
    ]
    png_rgb = _png_bytes(3, 4, rgb_px, ctype=2, filters=[0, 1, 2, 3])
    png_paeth = _png_bytes(3, 4, rgb_px, ctype=2, filters=[4, 4, 4, 4])
    # RGBA: alpha dropped; split IDAT covers chunk concatenation
    rgba_px = [(9, 8, 7, 255), (100, 150, 200, 0), (1, 2, 3, 17), (4, 5, 6, 200)]
    png_rgba = _png_bytes(2, 2, rgba_px, ctype=6, filters=[2, 4], split_idat=True)
    # grayscale replicates to RGB
    gray_px = [(0,), (85,), (170,), (255,)]
    png_gray = _png_bytes(4, 1, gray_px, ctype=0, filters=[1])

    payloads = [
        (1, png_rgb),
        (2, png_paeth),
        (3, png_rgba),
        (4, png_gray),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in df.mapInPandas(
            multimodal._extract_batches, schema=multimodal.FEATURE_SCHEMA
        ).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (3, 4)
    assert out[1]["features"] == _expected_features(rgb_px)
    assert out[2]["features"] == _expected_features(rgb_px)
    assert (out[3]["width"], out[3]["height"]) == (2, 2)
    assert out[3]["features"] == _expected_features(
        [p[:3] for p in rgba_px]
    )
    assert (out[4]["width"], out[4]["height"]) == (4, 1)
    assert out[4]["features"] == _expected_features(
        [(v[0], v[0], v[0]) for v in gray_px]
    )

    # unsupported variants: interlaced and 16-bit raise the codec-class
    # error (→ fallback tier in the batch path)
    import struct as _s
    import zlib as _z

    def _chunk(tag, body):
        return (
            _s.pack(">I", len(body)) + tag + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
    )
    with _pytest.raises(NotImplementedError):
        multimodal.decode_image(interlaced)
    deep = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", _s.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
    )
    with _pytest.raises(NotImplementedError):
        multimodal.decode_image(deep)
    # zero-area dims route to ValueError like PPM/BMP
    degenerate = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", _s.pack(">IIBBBBB", 0, 2, 8, 2, 0, 0, 0))
    )
    with _pytest.raises(ValueError):
        multimodal.decode_image(degenerate)


def test_real_decode_tier_jpeg_end_to_end(spark):
    """The baseline-JPEG tier is REAL (operators/_jpeg.py): encoded
    fixtures flow through the shipped mapInPandas plumbing and produce
    true pixel statistics.  JPEG is lossy, so exactness is pinned on
    flat fields (DC-only blocks: a uniform 130 encodes to DC
    quotient 1 under the Annex K quantizer and decodes back to
    exactly 130 — hand-computable without the codec), while gradient
    fixtures assert a tight tolerance; non-baseline modes route to the
    fallback tier with the codec-class error."""
    import numpy as np
    import pytest as _pytest

    from bigdata_gamedb_etl_spark.operators import _jpeg, multimodal

    flat = np.full((16, 16), 130, dtype=np.uint8)
    jpg_flat = _jpeg.encode_baseline(flat)
    grad = np.zeros((24, 32, 3))
    grad[:, :, 0] = np.linspace(0, 255, 32)[None, :]
    grad[:, :, 1] = np.linspace(0, 255, 24)[:, None]
    grad[:, :, 2] = 90
    grad = grad.astype(np.uint8)
    jpg_444 = _jpeg.encode_baseline(grad)
    jpg_420 = _jpeg.encode_baseline(grad, subsample=True)

    payloads = [(1, jpg_flat), (2, jpg_444), (3, jpg_420)]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in df.mapInPandas(
            multimodal._extract_batches, schema=multimodal.FEATURE_SCHEMA
        ).collect()
    }
    # flat field: exact — mean 130/255 on every channel
    assert (out[1]["width"], out[1]["height"]) == (16, 16)
    m = round(130 / 255.0, 6)
    luma = round(0.299 * m + 0.587 * m + 0.114 * m, 6)
    assert out[1]["features"] == [m, m, m, luma]
    # gradients: true means within ~2/255 per channel for both
    # sampling modes (quantization noise, not systematic bias)
    true = [
        grad[:, :, c].astype(np.int64).sum() / grad[:, :, c].size / 255.0
        for c in range(3)
    ]
    for doc in (2, 3):
        assert (out[doc]["width"], out[doc]["height"]) == (32, 24)
        for got, want in zip(out[doc]["features"][:3], true):
            assert abs(got - want) < 2 / 255.0, (doc, got, want)

    # resize path: flat JPEG through the real tier stays flat
    w, h, resized = multimodal.real_resize(jpg_flat, (4, 4))
    px = multimodal._ppm_pixels(resized)
    assert px.shape == (4, 4, 3) and np.all(px == 130)

    # progressive (SOF2) routes to the codec-class error
    progressive = bytearray(jpg_444)
    sof = progressive.find(b"\xff\xc0")
    progressive[sof + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        multimodal.decode_image(bytes(progressive))
    # truncated entropy data raises ValueError (malformed, not codec)
    with _pytest.raises(ValueError):
        multimodal.decode_image(jpg_flat[:-20])
    # degenerate dims rejected
    zero = bytearray(jpg_flat)
    sof = zero.find(b"\xff\xc0")
    zero[sof + 5 : sof + 7] = b"\x00\x00"  # height 0
    with _pytest.raises(ValueError):
        multimodal.decode_image(bytes(zero))


def test_jpeg_decoder_exception_contract_under_fuzz():
    """The batch decode tier catches exactly (NotImplementedError,
    ValueError); any other exception class escaping the JPEG parser
    would crash the whole mapInPandas job on one adversarial payload.
    Deterministic mutation fuzz over both sampling modes pins the
    contract (the parser normalizes IndexError/KeyError/OverflowError/
    struct.error to ValueError)."""
    import random

    import numpy as np

    from bigdata_gamedb_etl_spark.operators import _jpeg

    img = (np.arange(24 * 24 * 3).reshape(24, 24, 3) % 251).astype(np.uint8)
    rng = random.Random(42)
    for src in (
        _jpeg.encode_baseline(img),
        _jpeg.encode_baseline(img, subsample=True),
    ):
        for _ in range(200):
            b = bytearray(src)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            if rng.random() < 0.3:
                b = bytes(b[: rng.randrange(2, len(b))])
            try:
                _jpeg.decode_pixels(bytes(b))
            except (ValueError, NotImplementedError):
                pass


def test_jpeg_sof0_dimension_cap_is_valueerror():
    """A header-only payload declaring 65535x65535 must raise
    ValueError (routed to the fallback tier) BEFORE any per-component
    plane allocation — a MemoryError escaping here would kill the
    whole mapInPandas task (r8 advice item)."""
    import struct as _s

    from bigdata_gamedb_etl_spark.operators import _jpeg

    sof = _s.pack(">BHHB", 8, 65535, 65535, 1) + bytes([1, 0x11, 0])
    payload = (
        b"\xff\xd8"
        + b"\xff\xc0" + _s.pack(">H", 2 + len(sof)) + sof
        + b"\xff\xd9"
    )
    try:
        _jpeg.decode_pixels(payload)
        raise AssertionError("implausible dims accepted")
    except ValueError:
        pass


def test_jpeg_bitreader_buf_stays_bounded():
    """_BitReader must mask consumed high bits on refill: without the
    mask buf grows by 8 bits per entropy byte and every read_bit shift
    is O(stream size) — an effective hang on real-sized scans
    (r8 advice item)."""
    from bigdata_gamedb_etl_spark.operators import _jpeg

    r = _jpeg._BitReader(bytes([0xA5] * 4096), 0)
    for _ in range(4096 * 8):
        r.read_bit()
    assert r.buf.bit_length() <= 16, r.buf.bit_length()


def _wav_bytes(rate, samples, n_ch=1, extra_chunk=False):
    """Encode a PCM16 RIFF/WAVE fixture (optionally with an extra
    LIST chunk before data, exercising the chunk walk)."""
    import struct as _s

    data = b"".join(_s.pack("<h", v) for v in samples)
    fmt = _s.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    chunks = b"fmt " + _s.pack("<I", len(fmt)) + fmt
    if extra_chunk:
        chunks += b"LIST" + _s.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    chunks += b"data" + _s.pack("<I", len(data)) + data
    return b"RIFF" + _s.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_real_audio_tier_wav_end_to_end(spark):
    """The audio tier is REAL for PCM16 WAV: fixtures flow through the
    exact mapInPandas plumbing mm_audio_meta ships and produce true
    duration/peak/RMS; codec-format and garbage payloads take the
    deterministic fallback."""
    import math

    from bigdata_gamedb_etl_spark.operators import multimodal

    # 8 samples at 8000 Hz mono -> exactly 1 ms
    mono = [0, 1000, -2000, 3000, -3000, 2000, -1000, 0]
    wav1 = _wav_bytes(8000, mono)
    # stereo with an extra chunk: 4 frames at 4 Hz -> 1000 ms
    stereo = [100, -200, 300, -400, 500, -600, 700, -800]
    wav2 = _wav_bytes(4, stereo, n_ch=2, extra_chunk=True)
    payloads = [
        (1, wav1),
        (2, wav2),
        (3, b"not audio at all"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in df.mapInPandas(
            multimodal._audio_batches, multimodal.AUDIO_META_SCHEMA
        ).collect()
    }
    assert out[1]["tier"] == "decoded"
    assert out[1]["duration_ms"] == 8 * 1000 // 8000
    assert out[1]["peak"] == 3000
    assert out[1]["rms"] == round(
        math.sqrt(sum(v * v for v in mono) / len(mono)), 6
    )
    assert out[2]["tier"] == "decoded"
    assert out[2]["duration_ms"] == 1000
    assert out[2]["peak"] == 800
    assert out[3]["tier"] == "fallback"
    d, p, r = multimodal.fake_audio_meta(payloads[2][1])
    assert (out[3]["duration_ms"], out[3]["peak"], out[3]["rms"]) == (d, p, r)
    # unsupported variants raise the codec-class error
    import pytest as _pytest
    import struct as _s

    fmt24 = _s.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    wav24 = (
        b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt24)) + b"WAVE"
        + b"fmt " + _s.pack("<I", len(fmt24)) + fmt24
    )
    with _pytest.raises(NotImplementedError):
        multimodal.decode_audio_meta(wav24)
    with _pytest.raises(ValueError):
        multimodal.decode_audio_meta(b"RIFF\x00\x00\x00\x00WAVEjunk")


def test_real_resize_png_input(spark):
    """mm_resize's real tier covers PNG inputs: a 4x4 quadrant PNG
    box-filters to the quadrant colors and re-encodes as valid P6."""
    from bigdata_gamedb_etl_spark.operators import multimodal

    q = [(10, 20, 30), (200, 100, 0), (0, 0, 0), (255, 255, 255)]
    px = []
    for r in range(4):
        for c in range(4):
            px.append(q[(r // 2) * 2 + (c // 2)])
    png = _png_bytes(4, 4, px, ctype=2, filters=[0, 1, 2, 4])
    w, h, out = multimodal.real_resize(png, (2, 2))
    assert (w, h) == (2, 2)
    decoded = multimodal._ppm_pixels(out)
    assert [tuple(decoded[r, c]) for r in range(2) for c in range(2)] == q


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """A bloom filter may false-positive but NEVER false-negative:
    every true benchmark member must probe as a bloom hit.  Derivable
    from the one-row audit: member hits = bloom_hits − false_positives
    must equal n_members exactly."""
    from bigdata_gamedb_etl_spark.operators.dedup import dedup_bloom_prefilter

    row = dedup_bloom_prefilter(spark, sf_dir).collect()[0]
    assert row["n_members"] > 0, "no benchmark shingles — vacuous"
    member_hits = row["bloom_hits"] - row["false_positives"]
    assert member_hits == row["n_members"], (
        f"bloom false-negatived {row['n_members'] - member_hits} members"
    )
    assert 0 < row["bits_set"] <= 3 * row["n_members"]


def test_simhash_band_pairs_distance3_guarantee(spark, sf_dir):
    """The block-combination scheme's pigeonhole guarantee: EVERY pair
    of nonzero signatures at Hamming distance ≤ 3 must be emitted
    (3 flipped bits touch ≤ 3 of the 6 blocks, so some 3-block
    combination matches).  Brute-forces all signature pairs at the
    test SF and checks the emitted set covers them; also checks no
    emitted pair exceeds the declared verify ceiling."""
    from itertools import combinations

    from bigdata_gamedb_etl_spark.operators.dedup import (
        SIMHASH_HAM_MAX,
        dedup_simhash_band_pairs,
        dedup_simhash_signatures,
    )

    sigs = {
        r["doc_id"]: r["simhash"]
        for r in dedup_simhash_signatures(spark, sf_dir).collect()
        if r["simhash"] != 0
    }
    want = {
        (a, b)
        for (a, sa), (b, sb) in combinations(sorted(sigs.items()), 2)
        if bin((sa ^ sb) & 0xFFFFFFFFFFFFFFFF).count("1") <= 3
    }
    got = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dedup_simhash_band_pairs(spark, sf_dir).collect()
    }
    missing = want - set(got)
    assert not missing, f"distance<=3 pairs not retrieved: {sorted(missing)[:5]}"
    assert all(h <= SIMHASH_HAM_MAX for h in got.values())


def test_leakage_safe_split_no_cluster_spans_splits(spark, sf_dir):
    """The cluster-aware split's whole point: every member of a
    near-dup cluster lands in the SAME split.  Recomputes the doc-level
    assignment with the module's own seed/cut constants and asserts
    each cluster maps to exactly one split (and that the corpus
    actually has multi-doc clusters, so the test isn't vacuous)."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators import pipeline
    from bigdata_gamedb_etl_spark.operators.dedup import dedup_cluster_assign
    from bigdata_gamedb_etl_spark.sources.catalog import table

    clusters = dedup_cluster_assign(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id")
    grouped = d.join(clusters, "doc_id", "left").select(
        "cluster_id", F.coalesce("cluster_id", "doc_id").alias("group_key")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_", F.lit(pipeline.LEAK_SPLIT_SEED), "group_key"
                    )
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
        F.when(bucket < pipeline.SPLIT_TRAIN_PCT, "train")
        .when(bucket < pipeline.SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    spans = (
        grouped.where(F.col("cluster_id").isNotNull())
        .select("cluster_id", split.alias("split"))
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    rows = spans.collect()
    assert rows, "no near-dup clusters at this SF — test is vacuous"
    bad = [r for r in rows if r["n_splits"] != 1]
    assert not bad, f"clusters spanning splits: {bad[:5]}"
    # and the registered report agrees with the doc-level assignment
    report = {
        r["split"]: r["n_docs"]
        for r in pipeline.pipeline_leakage_safe_split(spark, sf_dir).collect()
    }
    doc_level = {
        r["split"]: r["n"]
        for r in grouped.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert report == doc_level


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_lsh_cluster_assign_refines_exact_clusters(spark, sf):
    """Every LSH edge is exact-verified at >= the same Jaccard
    threshold, so LSH clusters must REFINE the exact clusters: each
    LSH cluster's members all share one exact cluster (no merge across
    exact components is possible), and membership is a subset of the
    exact tier's.  This subset relation relies on the shingle df cap
    being inactive (the exact tier counts `common` over CAPPED
    postings, LSH verification over full sets) — which
    test_shingle_df_cap_is_inactive_at_test_sf asserts for these
    SF_DIR_PATHS."""
    lsh = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_lsh_cluster_assign(spark, sf).collect()
    }
    exact = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_cluster_assign(spark, sf).collect()
    }
    assert set(lsh) <= set(exact), "LSH tier clustered a doc the exact tier didn't"
    mapped: dict[int, int] = {}
    for doc, lc in lsh.items():
        ec = exact[doc]
        assert mapped.setdefault(lc, ec) == ec, (
            f"LSH cluster {lc} spans exact clusters {mapped[lc]} and {ec}"
        )


def test_lsh_cluster_assign_is_deterministic(spark):
    sf = SF_DIR_PATHS[0]
    a = [tuple(r) for r in dedup.dedup_lsh_cluster_assign(spark, sf).collect()]
    b = [tuple(r) for r in dedup.dedup_lsh_cluster_assign(spark, sf).collect()]
    assert a == b


def test_incremental_cc_matches_full_recompute(spark):
    """dedup_incremental_cc's contraction merge must equal a full CC
    recompute over the same corpus — including the hard case where one
    batch doc BRIDGES two prior components (they must collapse to one
    cluster under the global minimum), and batch docs can carry ids
    smaller than a prior component's label."""
    from bigdata_gamedb_etl_spark.operators import dedup

    sf = SF_DIR_PATHS[0]
    inc = {
        tuple(r) for r in dedup.dedup_incremental_cc(spark, sf).collect()
    }
    full = {
        tuple(r) for r in dedup.dedup_cluster_assign(spark, sf).collect()
    }
    assert inc == full

    # synthetic bridge: old components {1,2} and {7,8} (ids %5 != 0),
    # batch doc 5 (%5 == 0) bridges them; batch doc 0 attaches to {1,2}
    # with an id SMALLER than the prior label — cluster_id must become
    # 0 for every member of the merged component.  Old doc 11 keeps an
    # untouched component.
    pairs = spark.createDataFrame(
        [(1, 2), (7, 8), (11, 12), (5, 1), (5, 7), (0, 2)],
        "d1 long, d2 long",
    )
    merged = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup._incremental_cc_from_pairs(pairs).collect()
    }
    assert merged == {0: 0, 1: 0, 2: 0, 5: 0, 7: 0, 8: 0, 11: 11, 12: 11}
    full_cc = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup._min_label_components(pairs).collect()
    }
    assert merged == full_cc


def test_star_cc_matches_min_label_and_converges_faster_on_chain(spark):
    """r7 verdict item 6: the large-star/small-star CC must (a) produce
    the identical component assignment as min-label propagation, and
    (b) converge in strictly fewer rounds on a chain graph — the
    diameter-proportional shape that stalls min-label at 100 TB.
    Chain 0-1-…-12 plus a disjoint triangle {100,101,102}."""
    n = 13
    pairs = [(i, i + 1) for i in range(n - 1)]
    pairs += [(100, 101), (101, 102), (100, 102)]
    df = spark.createDataFrame(pairs, "d1 long, d2 long")

    star_stats: dict = {}
    star = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup._star_components(df, star_stats).collect()
    }
    expected = {i: 0 for i in range(n)}
    expected.update({100: 100, 101: 100, 102: 100})
    assert star == expected

    # min-label needs ~diameter rounds (12 here); count them via the
    # same public loop by instrumenting the constant is intrusive, so
    # bound it analytically: star must beat ceil(log2(12)) * 2 + 2
    assert star_stats["rounds"] <= 7, star_stats
    # and on the real corpus both algorithms agree exactly
    sf = SF_DIR_PATHS[0]
    a = {
        tuple(r)
        for r in dedup.dedup_cluster_assign(spark, sf).collect()
    }
    b = {
        tuple(r)
        for r in dedup.dedup_cluster_assign_star(spark, sf).collect()
    }
    assert a == b


def test_pack_attention_spans_tile_chunks_exactly(spark):
    """Every packed chunk must be tiled exactly by its document spans:
    sorted spans are contiguous from 0 with no overlap, and every
    chunk except each shard's final one sums to PACK_SEQ_LEN."""
    from collections import defaultdict

    from bigdata_gamedb_etl_spark.operators import pipeline

    rows = pipeline.pipeline_pack_attention_spans(
        spark, SF_DIR_PATHS[1]
    ).collect()
    chunks: dict = defaultdict(list)
    for r in rows:
        assert 0 <= r["start_pos"] < pipeline.PACK_SEQ_LEN
        assert 1 <= r["span_len"] <= pipeline.PACK_SEQ_LEN
        chunks[(r["shard"], r["chunk_id"])].append(
            (r["start_pos"], r["span_len"])
        )
    last_chunk = {}
    for (shard, cid) in chunks:
        last_chunk[shard] = max(last_chunk.get(shard, -1), cid)
    for (shard, cid), spans in chunks.items():
        spans.sort()
        pos = 0
        for start, ln in spans:
            assert start == pos, (shard, cid, spans)
            pos += ln
        if cid < last_chunk[shard]:
            assert pos == pipeline.PACK_SEQ_LEN, (shard, cid, pos)
        else:
            assert pos <= pipeline.PACK_SEQ_LEN


def test_epoch_shuffle_orders_differ_and_replay(spark):
    """Each epoch's shuffle order must differ from the others' (the
    point of reshuffling) while replaying identically run-over-run
    (the point of determinism)."""
    from bigdata_gamedb_etl_spark.operators import pipeline

    sf = SF_DIR_PATHS[0]
    a = pipeline.pipeline_epoch_shuffle(spark, sf).collect()
    b = pipeline.pipeline_epoch_shuffle(spark, sf).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    by_epoch: dict = {}
    for r in a:
        by_epoch.setdefault(r["epoch"], []).append(
            (r["order_key"], r["doc_id"])
        )
    orders = {
        e: [doc for _, doc in sorted(v)] for e, v in by_epoch.items()
    }
    assert len(orders) == pipeline.EPOCH_COUNT
    e0, e1 = orders[0], orders[1]
    assert sorted(e0) == sorted(e1)  # same membership
    assert e0 != e1  # different order


def test_weighted_sample_prefers_heavy_docs(spark):
    """With weight = token count, the A-ES sample's mean weight must
    exceed the corpus mean (deterministic given the fixed seed and
    testdata — this pins that the weighting actually biases the draw,
    not just that both engines agree)."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators import pipeline
    from bigdata_gamedb_etl_spark.sources.catalog import table

    sf = SF_DIR_PATHS[0]
    sample = pipeline.pipeline_weighted_sample(spark, sf)
    sample_mean = sample.agg(F.avg("weight")).first()[0]
    corpus_mean = (
        table(spark, sf, "documents")
        .select(F.expr("size(filter(split(text, ' '), t -> t <> ''))").alias("w"))
        .where(F.col("w") > 0)
        .agg(F.avg("w"))
        .first()[0]
    )
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_jpeg_grayscale_2x2_sampling_decodes_noninterleaved():
    """T.81 A.2 regression: a single-component scan is NON-interleaved
    (MCU = one data unit, raster order over the full-res block grid)
    regardless of the SOF's declared sampling factors — libjpeg writes
    2x2 luma for grayscale.  Patching the fixture's SOF sampling byte
    from 1x1 to 2x2 must decode to the identical pixels (the entropy
    stream IS the non-interleaved layout); the pre-fix interleaved
    reader consumed a 4-blocks-per-16x16-MCU grid instead."""
    import numpy as np

    from bigdata_gamedb_etl_spark.operators import _jpeg

    # non-square so block-count coincidences can't mask order bugs
    img = (np.arange(24 * 16).reshape(16, 24) * 7 % 251).astype(np.uint8)
    jpg = _jpeg.encode_baseline(img)
    base = _jpeg.decode_pixels(jpg)

    patched = jpg.replace(bytes([1, 0x11, 0]), bytes([1, 0x22, 0]), 1)
    assert patched != jpg, "SOF grayscale component entry not found"
    assert np.array_equal(_jpeg.decode_pixels(patched), base)


def test_jpeg_zero_component_sampling_is_valueerror():
    """A component sampling nibble of 0 passes the hmax/vmax check but
    divided by zero at the upsample step — must be normalized to the
    decode contract's ValueError, not ZeroDivisionError."""
    import numpy as np
    import pytest as _pytest

    from bigdata_gamedb_etl_spark.operators import _jpeg

    img = (np.arange(16 * 16 * 3).reshape(16, 16, 3) % 251).astype(np.uint8)
    jpg = _jpeg.encode_baseline(img, subsample=True)
    # chroma components are declared 0x11; zero one nibble
    patched = jpg.replace(bytes([2, 0x11, 1]), bytes([2, 0x01, 1]), 1)
    assert patched != jpg, "SOF chroma component entry not found"
    with _pytest.raises(ValueError):
        _jpeg.decode_pixels(patched)


def test_png_corrupt_idat_is_valueerror():
    """zlib.error from a corrupt IDAT must be normalized to ValueError
    (the batch decode tier catches exactly NotImplementedError and
    ValueError; a raw zlib.error would crash the whole job)."""
    import pytest as _pytest

    from bigdata_gamedb_etl_spark.operators import multimodal

    good = _png_bytes(
        3, 3, [(i * 7 % 251, i * 11 % 251, i * 13 % 251) for i in range(9)],
        ctype=2,
    )
    # replace the IDAT body with bytes that are not a zlib stream
    idx = good.index(b"IDAT")
    corrupt = bytearray(good)
    corrupt[idx + 4 : idx + 8] = b"\x00\xff\x00\xff"
    with _pytest.raises(ValueError):
        multimodal._png_pixels(bytes(corrupt))


def test_lpa_communities_refine_connected_components(spark):
    """LPA invariants on the near-dup graph: labels only travel along
    edges, so every LPA community sits inside exactly ONE connected
    component (LPA refines CC, never merges across); coverage equals
    the graph's node set; and an isolated 2-clique — where each
    member's sole neighbor is the other — converges to both members
    carrying the smaller doc_id as their label."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators import dedup, graph

    sf = SF_DIR_PATHS[1]
    lpa = {
        r["doc_id"]: r["community"]
        for r in graph.graph_lpa_communities(spark, sf).collect()
    }
    assert lpa, "pair graph unexpectedly empty at sf0.01"
    cc = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_cluster_assign(spark, sf).collect()
    }
    assert set(lpa) == set(cc)
    comm_to_cc: dict = {}
    for doc, comm in lpa.items():
        comm_to_cc.setdefault(comm, set()).add(cc[doc])
    for comm, ccs in comm_to_cc.items():
        assert len(ccs) == 1, f"community {comm} spans components {ccs}"

    edges = graph._sym_edges(spark, sf)
    deg = {
        r["src"]: r["cnt"]
        for r in edges.groupBy("src")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    two_cliques = [
        (e["src"], e["dst"])
        for e in edges.collect()
        if deg[e["src"]] == 1 and deg[e["dst"]] == 1
    ]
    assert two_cliques, "fixture regressed: no isolated 2-cliques"
    for a, b in two_cliques:
        assert lpa[a] == lpa[b] == min(a, b)


def test_lsh_recall_by_jaccard_consistent_with_ladder(spark):
    """The per-bin recall curve and the aggregate ladder are two views
    of the SAME candidate sets: per band setting, the bin-wise caught
    counts must sum to the ladder's hits (candidates∩exact ==
    verified∩exact, because verification keeps exactly the candidates
    at ≥ the threshold and every exact pair is at ≥ the threshold),
    and the bin totals must sum to exact_pairs.  Per bin, recall is
    monotone in bands (nested band boundaries ⇒ candidate supersets)."""
    from bigdata_gamedb_etl_spark.operators import dedup

    sf = SF_DIR_PATHS[0]
    curve = dedup.dedup_lsh_recall_by_jaccard(spark, sf).collect()
    ladder = {
        r["bands"]: r
        for r in dedup.dedup_lsh_band_ladder(spark, sf).collect()
    }
    by_band: dict = {}
    for r in curve:
        by_band.setdefault(r["bands"], []).append(r)
    assert sorted(by_band) == list(dedup.LSH_LADDER_BANDS)
    for nb, rows in by_band.items():
        assert sum(r["n_caught"] for r in rows) == ladder[nb]["hits"]
        assert sum(r["n_exact"] for r in rows) == ladder[nb]["exact_pairs"]
        for r in rows:
            assert 0.0 <= r["recall"] <= 1.0
    # per-bin monotonicity in bands
    bins = {r["jaccard_bin"] for r in curve}
    for jb in bins:
        seq = [
            r["recall"]
            for nb in dedup.LSH_LADDER_BANDS
            for r in by_band[nb]
            if r["jaccard_bin"] == jb
        ]
        assert seq == sorted(seq), (jb, seq)


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_ivf_int_recall_vs_exact(spark, sf):
    """The integer-Lloyd IVF full-train tier (oracle-checked
    end-to-end, codebook included) must stay a usable ANN: recall@TOP_K
    vs the exact brute-force top-k ≥ 0.5 (measured 0.80 / 0.85 / 0.85
    at sf0.001/0.01/0.1 since the r11 repurpose onto the full-corpus
    fit; the r10 sampled-fit series read 0.55 / 0.85 / 0.75 — either
    way above the retired MLlib float tier, so exact-integer
    arithmetic costs nothing in quality)."""
    exact = [
        r["vec_id"] for r in similarity.sim_cosine_topk(spark, sf).collect()
    ]
    got = {
        r["vec_id"] for r in similarity.sim_ivf_int_topk(spark, sf).collect()
    }
    recall = len(got & set(exact)) / len(exact)
    assert recall >= 0.5, f"integer-IVF recall {recall} < 0.5 at {sf}"


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_hll_mulmod_accuracy_and_state(spark, sf):
    """The hand-rolled engine-reproducible HLL: estimate within 5% of
    the exact per-type distinct-user count (with m=4096 registers and
    n ≪ m the linear-counting branch applies and is near-exact), and
    the emitted sketch state is internally consistent — s_scaled must
    equal the empty-register contribution plus at least one present
    register's term, and every type shares the corpus day span."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators.sketches import (
        _HLL_TAIL_BITS,
        HLL_M,
        sketch_hll_mulmod_merge,
    )
    from bigdata_gamedb_etl_spark.sources.catalog import table

    exact = {
        r["event_type"]: r["ex"]
        for r in table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("ex"))
        .collect()
    }
    rows = sketch_hll_mulmod_merge(spark, sf).collect()
    assert set(r["event_type"] for r in rows) == set(exact)
    empty_term = 1 << (_HLL_TAIL_BITS + 1)
    for r in rows:
        ex = exact[r["event_type"]]
        assert abs(r["approx_users"] - ex) <= max(1, 0.05 * ex), (
            r["event_type"],
            r["approx_users"],
            ex,
        )
        used = HLL_M - r["v_zero"]
        assert 0 < used <= HLL_M
        # present registers each contribute in [1, 2^48]; the state sum
        # must sit strictly between all-empty and the trivial bounds
        base = r["v_zero"] * empty_term
        assert base + used <= r["s_scaled"] <= base + used * empty_term // 2


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_substring_spans_invariants(spark, sf):
    """Exact-substring cut spans: per-doc spans are sorted, pairwise
    separated by more than the merge gap (else they'd have merged),
    each at least SS_W tokens wide with a consistent seed count, and
    the seed gram opening every span genuinely occurs ≥2 times in the
    corpus (spot-checked exhaustively — output is small at test SF)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators.dedup import (
        SS_W,
        _ss_seeds,
        dedup_substring_spans,
    )

    spans = dedup_substring_spans(spark, sf).collect()
    assert spans, f"no duplicated substrings at {sf} — fixture regressed"
    by_doc: dict = {}
    for r in spans:
        assert r["span_tokens"] == r["span_end"] - r["span_start"] + 1
        assert r["span_tokens"] >= SS_W
        assert 1 <= r["n_seeds"] <= r["span_tokens"] - SS_W + 1
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        starts = [r["span_start"] for r in rs]
        assert starts == sorted(starts)
        for a, b in zip(rs, rs[1:]):
            # a merged island ends > SS_W before the next may begin
            assert b["span_start"] - (a["span_end"] - SS_W + 1) > SS_W, (
                doc,
                a,
                b,
            )
    # every span's opening seed is a genuinely duplicated gram
    # (composite 120-bit md5 key since r12 — see _ss_seeds)
    seed_keys = _ss_seeds(spark, sf).groupBy("g1", "g2").count()
    dup_seed_positions = {
        (r["doc_id"], r["pos"])
        for r in _ss_seeds(spark, sf)
        .join(
            seed_keys.where(F.col("count") >= 2).select("g1", "g2"),
            ["g1", "g2"],
        )
        .collect()
    }
    for r in spans:
        assert (r["doc_id"], r["span_start"]) in dup_seed_positions


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_prefix_filter_equals_inverted_index(spark, sf):
    """Prefix filtering is exact by theorem — its output must equal
    the df-capped inverted-index variant row-for-row at test SFs
    (where the cap provably drops nothing), pinning both the prefix
    completeness argument and the cap-harmlessness claim at once."""
    inv = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard_pairs(spark, sf).collect()
    }
    pref = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.dedup_prefix_jaccard_pairs(spark, sf).collect()
    }
    assert inv == pref


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_cdc_chunks_partition_the_corpus(spark, sf):
    """CDC chunks must PARTITION every non-empty document: the
    report's total_tokens equals the exact corpus token count, stored
    is bounded by total, distinct by chunk count, and the mean sits
    inside [1, total]."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators.dedup import dedup_cdc_chunks
    from bigdata_gamedb_etl_spark.sources.catalog import table

    toks = "filter(split(text, ' '), t -> t <> '')"
    corpus_tokens = (
        table(spark, sf, "documents")
        .select(F.expr(f"size({toks})").alias("n"))
        .agg(F.sum("n").alias("t"))
        .first()["t"]
    )
    r = dedup_cdc_chunks(spark, sf).first()
    assert r["total_tokens"] == corpus_tokens
    assert 0 < r["stored_tokens"] <= r["total_tokens"]
    assert 0 < r["n_distinct_chunks"] <= r["n_chunks"]
    assert 1.0 <= r["mean_chunk_tokens"] <= r["total_tokens"]
    assert 0.0 <= r["saved_token_share"] < 1.0


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_cut_spans_emit_conserves_tokens(spark, sf):
    """The cut-applied emit must agree with the span listing exactly:
    every document appears once, kept + removed == original, and each
    doc's removed count equals the sum of its span widths (spans are
    disjoint by construction, so the identity is exact)."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators.dedup import (
        dedup_cut_spans_emit,
        dedup_substring_spans,
    )
    from bigdata_gamedb_etl_spark.sources.catalog import table

    n_docs = table(spark, sf, "documents").count()
    emit = dedup_cut_spans_emit(spark, sf).collect()
    assert len(emit) == n_docs
    removed_by_doc = {
        r["doc_id"]: r["span_sum"]
        for r in dedup_substring_spans(spark, sf)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("span_sum"))
        .collect()
    }
    for r in emit:
        assert r["kept_tokens"] + r["removed_tokens"] == r["orig_tokens"]
        assert r["removed_tokens"] == removed_by_doc.get(r["doc_id"], 0)
        n_text = len([t for t in r["clean_text"].split(" ") if t]) if r["clean_text"] else 0
        assert n_text == r["kept_tokens"]


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_kcore_converged_and_nested_in_components(spark, sf):
    """k-core invariants: the fixed peel-round count REACHED the fixed
    point (every survivor keeps ≥ k neighbors inside the core — false
    at any non-converged round), and the core is a subset of nodes
    whose raw degree was already ≥ k (peeling only removes)."""
    from pyspark.sql import functions as F

    from bigdata_gamedb_etl_spark.operators.graph import (
        KCORE_K,
        _sym_edges,
        graph_kcore_membership,
    )

    core = graph_kcore_membership(spark, sf).collect()
    assert core, f"empty {KCORE_K}-core at {sf} — fixture regressed"
    assert min(r["core_degree"] for r in core) >= KCORE_K
    raw_deg = {
        r["src"]: r["deg"]
        for r in _sym_edges(spark, sf)
        .groupBy("src")
        .agg(F.count("*").alias("deg"))
        .collect()
    }
    for r in core:
        assert raw_deg[r["doc_id"]] >= KCORE_K
        assert r["core_degree"] <= raw_deg[r["doc_id"]]


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_snm_complements_first_word_blocking(spark, sf):
    """SNM invariants: every emitted pair is within EDITDIST_MAX and
    within SNM_W positions of per-shard sort order (gap bound), pairs
    are sort-ordered (name_a < name_b), and the method genuinely
    complements first-word blocking — any SNM pair sharing a first
    word must also be found by dedup_editdist_names (consistency),
    while pairs with different first words are SNM-only recall."""
    from bigdata_gamedb_etl_spark.operators.dedup import (
        EDITDIST_MAX,
        SNM_W,
        dedup_editdist_names,
        dedup_sorted_neighborhood_pairs,
    )

    snm = dedup_sorted_neighborhood_pairs(spark, sf).collect()
    assert snm, f"no SNM pairs at {sf} — fixture regressed"
    block = {
        tuple(sorted((r["name_a"], r["name_b"])))
        for r in dedup_editdist_names(spark, sf).collect()
    }
    for r in snm:
        assert r["name_a"] < r["name_b"]
        assert r["dist"] <= EDITDIST_MAX
        assert 1 <= r["gap"] <= SNM_W
        if r["name_a"].split(" ")[0] == r["name_b"].split(" ")[0]:
            assert (r["name_a"], r["name_b"]) in block


@pytest.mark.parametrize("sf", SF_DIR_PATHS)
def test_temperature_mixture_flattens_the_head(spark, sf):
    """α=0.5 temperature invariants: kept ≤ raw per language, the
    target allocation never exceeds the corpus (Σ target ≤ total with
    at most one doc of floor loss per language), and the defining
    flattening property — the largest language's keep rate is the
    MINIMUM rate while every language clearly below the mean share
    keeps (essentially) everything — the strict ==100 bound holds up
    to integer-floor shaving, so the assertion leaves that margin."""
    from bigdata_gamedb_etl_spark.operators.pipeline import (
        pipeline_temperature_mixture,
    )

    rows = pipeline_temperature_mixture(spark, sf).collect()
    assert rows
    # r12: the LEFT-join fix guarantees EVERY corpus language appears
    # exactly once (n_kept = 0 rather than a missing row), which is
    # what makes the Σ n_docs totals below well-defined.
    from bigdata_gamedb_etl_spark.sources.catalog import table

    all_langs = {
        r["lang"]
        for r in table(spark, sf, "documents").select("lang").distinct().collect()
    }
    assert {r["lang"] for r in rows} == all_langs
    total = sum(r["n_docs"] for r in rows)
    assert sum(r["target_docs"] for r in rows) <= total
    assert sum(r["target_docs"] for r in rows) >= total - len(rows)
    biggest = max(rows, key=lambda r: r["n_docs"])
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert biggest["rate_pct"] <= r["rate_pct"]
        if r["n_docs"] * len(rows) * 5 <= total * 4:  # ≤ 80% of mean
            assert r["rate_pct"] >= 90, (r, total)
