"""Property-based checks (hypothesis) for the reference cleaning
semantics: the Spark expressions must agree with a plain-Python
reimplementation of the documented rules on arbitrary inputs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.types import FloatType, IntegerType, StringType, StructField, StructType

from conftest import duck_connect

from bigdata_gamedb_etl_spark.functions.cleaning import (
    genres_array,
    owners_range,
    price_category,
    strip_list_syntax,
)


def _py_strip(s: str) -> str:
    return s.replace("'", "").replace("[", "").replace("]", "")


def _py_price_bin(p: float) -> str:
    if p == 0:
        return "免费"
    if p < 5:
        return "$0-5"
    if p < 10:
        return "$5-10"
    if p < 20:
        return "$10-20"
    if p < 40:
        return "$20-40"
    return "$40+"


def _py_owner_bin(o: int) -> str:
    for edge, label in [
        (10_000, "0-1万"), (50_000, "1-5万"), (150_000, "5-15万"),
        (500_000, "15-50万"), (2_000_000, "50-200万"),
    ]:
        if o < edge:
            return label
    return "200万+"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
            max_size=30,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_strip_and_split_match_python(spark, texts):
    schema = StructType([StructField("s", StringType())])
    df = spark.createDataFrame([(t,) for t in texts], schema)
    got = df.select(
        strip_list_syntax(F.col("s")).alias("stripped"),
        genres_array(F.col("s")).alias("arr"),
    ).collect()
    for t, row in zip(texts, got):
        want_stripped = _py_strip(t)
        assert row["stripped"] == want_stripped
        # Spark/reference `trim` strips only ASCII space (0x20), not
        # all Python whitespace
        assert row["arr"] == [x.strip(" ") for x in want_stripped.split(",")]


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=100, allow_nan=False, width=32),
            st.integers(min_value=0, max_value=10_000_000),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_bins_match_python(spark, rows):
    schema = StructType(
        [StructField("p", FloatType()), StructField("o", IntegerType())]
    )
    df = spark.createDataFrame(rows, schema)
    got = df.select(
        "p", "o",
        price_category(F.col("p")).alias("pb"),
        owners_range(F.col("o")).alias("ob"),
    ).collect()
    for r in got:
        # compare against the float32 value Spark actually stored
        assert r["pb"] == _py_price_bin(r["p"])
        assert r["ob"] == _py_owner_bin(r["o"])


def _py_shingles(text: str) -> list[str]:
    ws = text.split(" ")
    if len(ws) < 3:
        return []
    out, seen = [], set()
    for i in range(len(ws) - 2):
        sh = " ".join(ws[i : i + 3])
        if sh not in seen:
            seen.add(sh)
            out.append(sh)
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters="\x00"
            ),
            max_size=12,
        ).map(lambda s: s.replace(" ", "_")),
        min_size=0,
        max_size=12,
    ).map(lambda toks: " ".join(toks))
)
def test_shingles_match_python(spark, text):
    """The zip_with shingle expression (dedup.py::_SHINGLES) — the
    primitive under every near-dup/decontamination/contamination
    operator — must equal a plain-Python order-preserving distinct
    word-3-gram on arbitrary text, including empty tokens from
    consecutive spaces and <3-token inputs."""
    from bigdata_gamedb_etl_spark.operators.dedup import _SHINGLES

    df = spark.createDataFrame(
        [(text,)],
        StructType([StructField("text", StringType())]),
    )
    got = df.select(F.expr(_SHINGLES).alias("shs")).first()["shs"]
    assert got == _py_shingles(text)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",), blacklist_characters="\x00"
        ),
        max_size=40,
    )
)
def test_normalization_cross_engine(spark, duck, text):
    """dedup_normalized_keeper's normalize chain must agree across
    engines on arbitrary unicode — Java regex works on UTF-16 code
    units while DuckDB's RE2 works on code points, so an astral char
    strips to TWO spaces in Spark and ONE in DuckDB; the ' +' collapse
    is what reconciles them, and this test pins that contract."""
    from bigdata_gamedb_etl_spark.operators.dedup import _normalize_expr

    got_spark = (
        spark.createDataFrame(
            [(text,)], StructType([StructField("text", StringType())])
        )
        .select(_normalize_expr("text").alias("n"))
        .first()["n"]
    )
    got_duck = duck.execute(
        "SELECT trim(regexp_replace(regexp_replace(lower(?),"
        " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))",
        [text],
    ).fetchone()[0]
    assert got_spark == got_duck


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters="\x00"
            ),
            max_size=10,
        ).map(lambda s: s.replace(" ", "_")),
        min_size=0,
        max_size=12,
    ).map(lambda toks: " ".join(toks))
)
def test_shingles_cross_engine(spark, duck, text):
    """_SHINGLES (Spark zip_with) and _SHINGLES_DUCK (DuckDB
    list_transform) are the two halves of every near-dup /
    decontamination oracle pair; they must produce the identical
    distinct 3-gram list on arbitrary text (split semantics, empty
    tokens, <3-token inputs, order preservation)."""
    from bigdata_gamedb_etl_spark.operators.dedup import (
        _SHINGLES,
        _SHINGLES_DUCK,
    )

    got_spark = (
        spark.createDataFrame(
            [(text,)], StructType([StructField("text", StringType())])
        )
        .select(F.expr(_SHINGLES).alias("shs"))
        .first()["shs"]
    )
    got_duck = duck.execute(
        "SELECT "
        + _SHINGLES_DUCK
        + " FROM (SELECT string_split(?, ' ') AS ws)",
        [text],
    ).fetchone()[0]
    # SET equality, not list equality: DuckDB's list_distinct gives no
    # order guarantee (hypothesis found '   0' ordering ['  ','  0'] in
    # Spark vs ['  0','  '] in DuckDB) while Spark's array_distinct
    # keeps first occurrence.  Every oracle consumes shingles through
    # UNNEST + set-semantics aggregation, so the cross-engine contract
    # is exactly: same distinct shingle SET, same cardinality.
    assert len(got_spark) == len(got_duck)
    assert set(got_spark) == set(got_duck)


# --------------------------------------------------------------------------
# Pure-Python image decoders: property round-trip against an
# independent reference.  Encode arbitrary small RGB images to PPM and
# BMP bytes here (independent encoders), decode with the engine's
# parsers, and compare dims + channel statistics computed directly
# from the pixel list.  No Spark needed — the parsers are plain
# functions; their Arrow plumbing is covered in test_llm_pipeline.
@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    data=st.data(),
    bpp=st.sampled_from([24, 32]),
    top_down=st.booleans(),
)
def test_image_decoders_roundtrip_property(w, h, data, bpp, top_down):
    import struct as _struct

    from bigdata_gamedb_etl_spark.operators import multimodal as mm

    px = [
        tuple(
            data.draw(st.integers(min_value=0, max_value=255))
            for _ in range(3)
        )
        for _ in range(w * h)
    ]
    n = w * h
    want = [
        round(sum(p[c] for p in px) / n / 255.0, 6) for c in range(3)
    ]
    want.append(
        round(0.299 * (sum(p[0] for p in px) / n / 255.0)
              + 0.587 * (sum(p[1] for p in px) / n / 255.0)
              + 0.114 * (sum(p[2] for p in px) / n / 255.0), 6)
    )

    ppm = (f"P6\n# c\n{w} {h}\n255\n").encode() + bytes(
        v for p in px for v in p
    )
    got_w, got_h, feats = mm.decode_image(ppm)
    assert (got_w, got_h) == (w, h)
    assert feats == want

    bytespp = bpp // 8
    stride = (w * bytespp + 3) // 4 * 4
    rows = [px[r * w : (r + 1) * w] for r in range(h)]
    raster = bytearray()
    for row in rows if top_down else rows[::-1]:
        rb = bytearray()
        for r, g, b in row:
            rb += bytes([b, g, r] + ([0] if bytespp == 4 else []))
        rb += b"\x00" * (stride - len(rb))
        raster += rb
    bmp = (
        b"BM"
        + _struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + _struct.pack(
            "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, 0,
            len(raster), 0, 0, 0, 0,
        )
        + bytes(raster)
    )
    got_w, got_h, feats = mm.decode_image(bmp)
    assert (got_w, got_h) == (w, h)
    assert feats == want


def test_pmi_lift_decimal_path_survives_int64_overflow(spark):
    """The lift numerator/denominator are DECIMAL products cast to
    double — at corpus scale (counts ~4e9) the bare BIGINT product
    wraps int64 (1.6e19 > 9.2e18).  Feed overflow-scale counts through
    the exact expression shape text_pmi_collocations uses and assert
    the mathematically-correct lift comes back."""
    from pyspark.sql import functions as F

    c = 4_000_000_000  # 4e9: c*c = 1.6e19, past int64
    df = spark.createDataFrame(
        [(c, c, 2_000_000_000, 2_000_000_000)],
        "c_xy long, n_tokens long, c_x long, c_y long",
    )
    num = (
        F.col("c_xy").cast("decimal(19,0)") * F.col("n_tokens").cast("decimal(19,0)")
    ).cast("double")
    den = (
        F.col("c_x").cast("decimal(19,0)") * F.col("c_y").cast("decimal(19,0)")
    ).cast("double")
    lift = df.select(
        (F.floor(num / den * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "lift"
        )
    ).first()["lift"]
    assert lift == 4.0  # (4e9*4e9)/(2e9*2e9) exactly

    # and DuckDB computes the identical value through the oracle's form
    (dlift,) = duck_connect().execute(
        f"""SELECT floor(CAST(CAST({c} AS DECIMAL(19,0)) * CAST({c} AS DECIMAL(19,0)) AS DOUBLE)
                   / CAST(CAST(2000000000 AS DECIMAL(19,0)) * CAST(2000000000 AS DECIMAL(19,0)) AS DOUBLE)
                   * 10000.0 + 0.5) / 10000.0"""
    ).fetchone()
    assert dlift == lift


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",), blacklist_characters="\x00"
        ),
        min_size=1,
        max_size=30,
    )
)
def test_char_entropy_matches_python(spark, text):
    """text_char_entropy's ln(n) − Σc·ln c / n identity (with the
    per-term DECIMAL(18,9) quantization) must equal a plain-Python
    Shannon entropy computed the same quantized way on arbitrary
    unicode — pinning both the split('')-per-character semantics and
    the decimal accumulation against an independent reference."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from bigdata_gamedb_etl_spark.operators.textops import text_char_entropy
    from bigdata_gamedb_etl_spark.sources.catalog import TABLE_SCHEMAS

    d = spark.createDataFrame(
        [(1, text, "en", "src", len(text))],
        TABLE_SCHEMAS["documents"],
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        d.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        row = text_char_entropy(spark, tmp).collect()[0]

    counts = Counter(text)  # split('') yields every character
    n = sum(counts.values())
    q = Decimal("0.000000001")
    s = sum(
        Decimal(c * math.log(c)).quantize(q, rounding=ROUND_HALF_UP)
        for c in counts.values()
    )
    expected = round(math.log(n) - float(s) / n, 4)
    assert row["n_chars"] == n
    assert row["distinct_chars"] == len(counts)
    assert row["entropy"] == expected


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # minute offset
            st.integers(min_value=1, max_value=3),   # user
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=16,
    )
)
def test_scd2_run_collapse_matches_python(spark, rows):
    """mart_scd2_user_state's lag/run-sum/lead chain must equal a
    plain-Python run-length collapse over (us, event_id)-ordered
    per-user timelines — including duplicate timestamps (tie-break on
    event_id) and single-event users."""
    import datetime as dt
    import tempfile

    from bigdata_gamedb_etl_spark.operators.marts import mart_scd2_user_state
    from bigdata_gamedb_etl_spark.sources.catalog import TABLE_SCHEMAS

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    events = [
        (i, base + dt.timedelta(minutes=m), u, t, 1.0, "{}")
        for i, (m, u, t) in enumerate(rows)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(events, TABLE_SCHEMAS["events"]).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = [
            (
                r["user_id"], r["version"], r["state"],
                r["valid_from_us"], r["valid_to_us"], r["n_events"],
            )
            for r in mart_scd2_user_state(spark, tmp).collect()
        ]

    def us(ts):
        # LOCAL .timestamp(), not a UTC re-tag: PySpark converts naive
        # datetimes through the system-local zone on createDataFrame,
        # so a UTC assumption here fails on any non-UTC host (the
        # golden test at test_curation_golden.py uses the same form)
        return int(ts.timestamp() * 1_000_000)

    by_user: dict = {}
    for eid, ts, u, t, _, _ in events:
        by_user.setdefault(u, []).append((us(ts), eid, t))
    want = []
    for u in sorted(by_user):
        timeline = sorted(by_user[u])
        runs = []
        for tus, _, t in timeline:
            if runs and runs[-1][0] == t:
                runs[-1][2] += 1
            else:
                runs.append([t, tus, 1])
        for v, (state, vfrom, n) in enumerate(runs, start=1):
            vto = runs[v][1] if v < len(runs) else None
            want.append((u, v, state, vfrom, vto, n))
    assert got == want


def test_money_columns_are_fixed_point():
    """Data contract behind _rounding._avg_q (the quantized-BIGINT
    average in tpch_q1 / sql_word_price_stats): the TPC-H money/rate
    columns must be exact at 2 decimal places, else round(col*scale)
    would CHANGE values instead of merely re-encoding them and the
    quantized recipe would silently drift from the true average."""
    con = duck_connect()
    checks = [
        ("lineitem", "l_quantity"),
        ("lineitem", "l_extendedprice"),
        ("lineitem", "l_discount"),
        ("part", "p_retailprice"),
    ]
    for sf in ("sf0.001", "sf0.01"):
        for tbl, col in checks:
            (err,) = con.execute(
                f"SELECT COALESCE(max(abs({col} * 100 - "
                f"round({col} * 100))), 0) "
                f"FROM '/root/testdata/{sf}/{tbl}.parquet'"
            ).fetchone()
            assert err < 1e-6, f"{sf}/{tbl}.{col} not 2dp fixed-point: {err}"


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=60,
    )
)
def test_cc_variants_match_union_find(spark, pairs):
    """Both connected-components implementations — min-label
    propagation and the large-star/small-star operations — must assign
    every node its component-minimum label on ARBITRARY pair graphs
    (duplicate edges, both orientations, many components, dense blobs),
    matching a plain-Python union-find.  The chain-fixture test pins
    one adversarial shape; this pins the equivalence claim the
    registry's star-swap precedent rests on ("identical
    component-minimum labels").  Self-pairs are excluded to match the
    pair generators' contract (every generator emits d1 < d2)."""
    from bigdata_gamedb_etl_spark.operators import dedup

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {n: comp_min[find(n)] for n in parent}

    df = spark.createDataFrame(pairs, "d1 long, d2 long")
    minl = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup._min_label_components(df).collect()
    }
    star = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup._star_components(df).collect()
    }
    assert minl == expected
    assert star == expected


# ---------------------------------------------------------------------------
# The minhash permutation family (r10): the overflow-safe split-multiply
# formula must equal plain big-int (a_k·h + b_k) mod (2^61−1) on EVERY
# 60-bit input — the bound analysis in dedup._perm_formula's docstring
# is load-bearing under Spark's ANSI overflow-throws, so brute
# adversarial inputs (0, maxima, near-modulus values) matter most.
def _py_perm(k: int, h: int) -> int:
    from bigdata_gamedb_etl_spark.operators import dedup as dd

    a = dd._perm_const(k, "a") % (dd.MINHASH_P - 1) + 1
    b = dd._perm_const(k, "b") % dd.MINHASH_P
    return (a * h + b) % dd.MINHASH_P


def _eval_perm_formula(k: int, h: int) -> int:
    """Evaluate the generated SQL text in pure Python int arithmetic
    (the text only uses + * % and integer division, so a '//'
    substitution makes it a Python expression) — proving the FORMULA,
    independent of any engine."""
    from bigdata_gamedb_etl_spark.operators import dedup as dd

    expr = dd._perm_formula(k, "//")
    hh1, hh0 = h // dd._T31, h % dd._T31
    out = eval(expr, {"__builtins__": {}}, {"hh1": hh1, "hh0": hh0})
    # every intermediate must have stayed inside signed 64-bit: re-walk
    # the biggest terms from the docstring's bound analysis
    a = dd._perm_const(k, "a") % (dd.MINHASH_P - 1) + 1
    a1, a0 = a // dd._T31, a % dd._T31
    m = (a1 * hh0 + a0 * hh1) % dd.MINHASH_P
    x = 2 * a1 * hh1 + m // dd._T30 + (m % dd._T30) * dd._T31
    assert x < 2**63 and a0 * hh0 < 2**63 and a1 * hh0 + a0 * hh1 < 2**63
    return out


@given(
    k=st.integers(min_value=0, max_value=31),
    h=st.one_of(
        st.integers(min_value=0, max_value=2**60 - 1),
        st.sampled_from(
            [0, 1, 2**31 - 1, 2**31, 2**60 - 1, 2**60 - 2**31]
        ),
    ),
)
@settings(
    max_examples=500,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_perm_formula_equals_bigint_mulmod(k, h):
    assert _eval_perm_formula(k, h) == _py_perm(k, h)


def test_perm_formula_matches_spark_and_duckdb_on_boundaries(spark):
    """The same formula text, evaluated by both engines on adversarial
    60-bit inputs, must equal the big-int reference — the end-to-end
    twin of the pure-Python property above."""
    from bigdata_gamedb_etl_spark.operators import dedup as dd

    hs = [0, 1, 2**31 - 1, 2**31, 2**59, 2**60 - 1]
    ks = [0, 1, 17, 31]
    rows = [(h,) for h in hs]
    df = spark.createDataFrame(rows, "h long").selectExpr(
        f"h DIV {dd._T31} AS hh1", f"h % {dd._T31} AS hh0",
        "h",
    )
    got_spark = df.selectExpr(
        "h", *[f"{dd._perm_formula(k, 'DIV')} AS p{k}" for k in ks]
    ).collect()
    con = duck_connect()
    for r in got_spark:
        h = r["h"]
        hh1, hh0 = h // dd._T31, h % dd._T31
        sql = "SELECT " + ", ".join(
            dd._perm_formula(k, "//") for k in ks
        )
        # inline as BIGINT casts: a bare literal types as INT32 and
        # overflows, whereas the production CTE columns are BIGINT
        sql = sql.replace("hh1", f"CAST({hh1} AS BIGINT)").replace(
            "hh0", f"CAST({hh0} AS BIGINT)"
        )
        duck = con.execute(sql).fetchone()
        for i, k in enumerate(ks):
            want = _py_perm(k, h)
            assert r[f"p{k}"] == want, (k, h)
            assert duck[i] == want, (k, h)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    toks=st.lists(
        st.sampled_from("alpha beta gamma delta echo fox golf hotel".split()),
        min_size=24,
        max_size=64,
    ),
    prefix=st.lists(
        st.sampled_from("zulu yankee xray".split()), min_size=1, max_size=5
    ),
)
def test_cdc_chunks_are_shift_robust(spark, toks, prefix):
    """THE content-defined-chunking property (the reason CDC exists):
    prepending tokens to a document leaves every chunk after the first
    content-determined cut byte-identical — a localized edit disturbs
    O(1) chunks, where fixed-size blocking would re-align everything.

    Proof obligation matches the construction exactly: a cut at
    original token position q (end of the width-K gram) survives any
    prefix insertion because its gram lies fully inside the original
    content, so the original's chunks AFTER its first cut must appear
    verbatim as the tail of the modified document's chunk sequence."""
    from hypothesis import assume

    from bigdata_gamedb_etl_spark.operators.dedup import _cdc_chunks_expr

    orig = " ".join(toks)
    mod = " ".join(prefix + toks)
    df = spark.createDataFrame(
        [(1, orig), (2, mod)], "doc_id long, text string"
    )
    rows = (
        df.select(
            "doc_id", F.posexplode(F.expr(_cdc_chunks_expr())).alias("i", "c")
        )
        .orderBy("doc_id", "i")
        .collect()
    )
    chunks = {1: [], 2: []}
    for r in rows:
        chunks[r["doc_id"]].append(r["c"]["chunk_hash"])
    assume(len(chunks[1]) >= 2)  # original must actually have a cut
    tail = chunks[1][1:]
    assert chunks[2][-len(tail):] == tail, (chunks[1], chunks[2])
    # and chunk lengths partition both documents
    lens = {1: 0, 2: 0}
    for r in rows:
        lens[r["doc_id"]] += r["c"]["chunk_len"]
    assert lens[1] == len(toks) and lens[2] == len(prefix) + len(toks)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    tails=st.lists(
        st.integers(min_value=0, max_value=(1 << 48) - 1),
        min_size=16,
        max_size=64,
    )
)
def test_hll_rank_case_matches_bit_length(spark, tails):
    """The HLL register rank CASE (48 threshold WHENs, float-free)
    must equal the spec 49 − bit_length(tail) — bit_length(0) = 0 so
    an all-zero tail ranks 49 — over arbitrary 48-bit tails.  This is
    the only arithmetic in the hand-rolled HLL that is not a plain
    sum/max, so it carries the whole correctness argument."""
    from bigdata_gamedb_etl_spark.operators.sketches import (
        _HLL_TAIL_BITS,
        _hll_rank_case,
    )

    # boundary values stress the threshold chain exactly
    tails = tails + [0, 1, (1 << 47), (1 << 48) - 1, (1 << 23) - 1, 1 << 23]
    df = spark.createDataFrame([(t,) for t in tails], "tail long")
    got = [
        r["rank"]
        for r in df.select(F.expr(_hll_rank_case()).alias("rank")).collect()
    ]
    want = [_HLL_TAIL_BITS + 1 - t.bit_length() for t in tails]
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(  # per-row: (cell, j, 4-dim residual subvector)
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=2),
            st.lists(
                st.integers(min_value=-2_200_000, max_value=2_200_000),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=12,
    ),
    books=st.lists(  # per-entry: (cell, j, code, 4-dim sub-centroid)
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=3),
            st.lists(
                st.integers(min_value=-2_200_000, max_value=2_200_000),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=20,
    ),
)
def test_rpq_assign_gemm_matches_spec_argmin(spark, data, books):
    """The per-cell residual PQ assignment's integer-GEMM trick
    (argmin of −2·e·c + |c|² over the row's OWN cell codebook, ties to
    the smallest code) must equal the spec nearest-centroid: plain
    Python min over dist² with the (dist², code) tie-break — on
    arbitrary residual-range int vectors and arbitrary (possibly
    gap-coded) per-cell codebooks.  The oracle checks this only on the
    two fixed corpora; this pins the UDF itself, overflow headroom
    and tie policy included."""
    from pq_spec import rpq_assign

    cents = {}
    for cell, j, code, c in books:
        cents[(cell, j, code)] = list(c)
    covered = {(cell, j) for cell, j, _ in cents}
    rows = [
        (i, cell, j, list(sub))
        for i, (cell, j, sub) in enumerate(data)
        if (cell, j) in covered  # the documented caller contract
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, j int, sub array<long>"
    )
    got = {
        r["vec_id"]: r["code"]
        for r in rpq_assign(df, cents).collect()
    }
    for vec_id, cell, j, sub in rows:
        want = min(
            (
                (
                    sum((a - b) * (a - b) for a, b in zip(sub, c)),
                    code,
                )
                for (cc, jj, code), c in cents.items()
                if cc == cell and jj == j
            )
        )[1]
        assert got[vec_id] == want, (vec_id, cell, j, got[vec_id], want)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sets=st.lists(
        st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
        min_size=4,
        max_size=10,
    )
)
def test_prefix_filter_is_complete_on_arbitrary_sets(spark, sets):
    """The AllPairs prefix-filter THEOREM on random set families: the
    prefix machinery (df-ascending canonical order, n DIV 2 + 1
    prefixes, t-length filter, array_intersect verify) must return
    EXACTLY the brute-force Jaccard ≥ 0.5 pairs — no pair missed by
    prefix pruning, none invented.  A tiny dense universe (31 values)
    forces heavy element sharing, the regime where pruning does real
    work and a completeness bug would show."""
    from bigdata_gamedb_etl_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _prefix_jaccard_from,
    )

    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in enumerate(sets)],
        "doc_id long, hs array<long>",
    )
    got = {
        (r["d1"], r["d2"])
        for r in _prefix_jaccard_from(df).collect()
    }
    want = set()
    for i, si in enumerate(sets):
        for j in range(i + 1, len(sets)):
            sj = sets[j]
            jac = len(si & sj) / len(si | sj)
            if jac >= JACCARD_THRESHOLD:
                want.add((i, j))
    assert got == want, (got, want, sets)
