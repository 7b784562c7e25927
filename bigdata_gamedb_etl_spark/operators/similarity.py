"""Similarity search over the `embeddings` table (array<float>, dim 64).

Three tiers:
  1. brute-force cosine top-k against a query vector — exact baseline,
     oracle-checked.  All vector math is built-in higher-order
     functions (zip_with + aggregate), JVM-side, codegen-friendly.
  2. exact all-pairs tiers (1-NN, near-dup pairs) via DISTRIBUTED
     blocked GEMM: the corpus is packed into O(N/B) matrix blocks
     DataFrame-side, block pairs join, and each task runs one BLAS GEMM
     over two blocks.  No driver collect anywhere — per-task memory is
     bounded by two blocks regardless of corpus size, and total compute
     is the unavoidable O(N²·d/p).
  3. sublinear candidate generation — multi-probe random-hyperplane
     LSH, an IVF family (integer-Lloyd coarse quantizer: base /
     multiprobe / full-train tiers + the nprobe recall curve), and
     PQ/ADC compression — the 100 TB paths that feed the same exact
     verification stage.  ALL oracle-checked end-to-end since r11
     (codebook fits included): exact integer arithmetic makes every
     fit, bucket bit, and probe order engine-reproducible.  Recall vs
     the exact baseline stays asserted in tests/test_llm_pipeline.py.

At 100 TB the brute-force top-k variant is still a legitimate
*distributed* scan (score+top-k is TakeOrderedAndProject, no shuffle of
the corpus); LSH/IVF cut the scan to a bucket subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import table
from ._rounding import _fr4

# Executor-side functions here are closures, which cloudpickle ships by
# value.  A module-level function they call, even through a local
# alias, ships by reference and needs this package importable on the
# executors — so kernel helpers are nested inside the kernel factories.

QUERY_VEC_ID = 0
TOP_K = 20
# Multi-table (band-OR) hyperplane LSH: L tables of b bits each.  A
# neighbor at angle θ matches one table with (1-θ/π)^b and ANY table
# with 1-(1-(1-θ/π)^b)^L — 24×4 gives ≈0.96 recall for cosine≈0.5
# neighbors while a random pair (cosine≈0) collides in a table with
# only 0.5^4.  Same OR-construction as the MinHash LSH bands in
# operators/dedup.py; single-table probing collapses in recall (≈0.2
# measured on the test corpus).
LSH_TABLES = 24
LSH_BITS = 4
IVF_CELLS = 16
IVF_NPROBE = 4
# multi-probe tier: SAME codebook, 2x wider probe (see
# sim_ivf_multiprobe_topk for why the finer-codebook-at-constant-
# compute variant was rejected at this corpus scale)
IVF_MP_NPROBE = 8
DUP_COSINE_THRESHOLD = 0.42


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    )



def _emb_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-norm embeddings — the domain of every cosine-SCORED
    operator.  A zero vector has no direction: its cosine is 0/0 = NaN
    (or an ANSI DIVIDE_BY_ZERO throw Spark-side), and NaN sorts
    greatest in DESC order in both engines, so an unfiltered zero
    vector silently takes the top of every top-k list — the hazard
    class the r7 ADVICE flagged on the MRL audit, closed fleet-wide
    here (every oracle twin carries the same WHERE).  Operators that
    AVERAGE vectors (centroids, dimension variance, Lloyd assignment)
    deliberately keep zero vectors — the mean is well-defined there."""
    return _emb_double(spark, sf_dir).where(
        _dot(F.col("emb"), F.col("emb")) > 0
    )


# --------------------------------------------------------------------------
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the embedding of vec_id=0."""
    emb = _emb_cosine(spark, sf_dir)
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("emb").alias("qv"))
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(
            _dot(F.col("emb"), F.col("qv"))
            / (F.sqrt(_dot(F.col("emb"), F.col("emb"))) * F.sqrt(_dot(F.col("qv"), F.col("qv")))),
            4,
        ).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(TOP_K)


SIM_TOPK_ORACLE = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = {QUERY_VEC_ID}
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
)
SELECT vec_id,
       ROUND(
         list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(qv, qv))), 4) AS cosine
FROM embeddings, q
WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


# --------------------------------------------------------------------------
def sim_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid via posexplode + per-dimension mean (the
    shuffle-friendly way to average vectors: (label, dim) grid, no
    driver collect), reporting centroid L2 norm and member count."""
    emb = _emb_double(spark, sf_dir)
    per_dim = (
        emb.select("label", F.posexplode("emb").alias("dim", "v"))
        .groupBy("label", "dim")
        # _q9-quantize the per-dim mean before squaring (the Lloyd-step
        # recipe): AVG of doubles carries ~1e-16 partition-order noise,
        # and ROUND on the derived norm was the one surviving
        # round-on-double-average site in this module — a norm within
        # noise of a 4dp halfway value would flip between the engines
        .agg(_q9(F.avg("v")).alias("mean_v"))
    )
    return (
        per_dim.groupBy("label")
        .agg(
            _fr4(F.sqrt(F.sum(F.col("mean_v") * F.col("mean_v")))).alias(
                "centroid_norm"
            ),
            F.count("*").alias("n_dims"),
        )
        .orderBy("label")
    )


SIM_CENTROID_ORACLE = """
WITH per_dim AS (
  SELECT label, dim - 1 AS dim,
         floor(AVG(v) * 1e9 + 0.5) / 1e9 AS mean_v
  FROM (
    SELECT label,
           UNNEST(CAST(embedding AS DOUBLE[])) AS v,
           UNNEST(range(1, len(embedding) + 1)) AS dim
    FROM embeddings
  )
  GROUP BY label, dim
)
SELECT label,
       floor(sqrt(SUM(mean_v * mean_v)) * 1e4 + 0.5) / 1e4 AS centroid_norm,
       COUNT(*) AS n_dims
FROM per_dim
GROUP BY label
ORDER BY label
"""


# --------------------------------------------------------------------------
#: Embedding quantization scale for the sign-LSH: 6dp fixed-point.
#: |emb[d]| < 1 on this corpus, so a 64-term signed sum is < 2²⁷ —
#: decades of headroom in BIGINT, and exact integer arithmetic is
#: summation-ORDER-independent, which is the whole point (see
#: _hyperplane_signs).
LSH_Q_SCALE = 1_000_000


def _hyperplane_signs(n_planes: int = LSH_TABLES * LSH_BITS) -> list[list[int]]:
    """Deterministic ±1 (Rademacher) hyperplanes — derived from a
    fixed integer scramble so every run and both engines agree.

    ±1 entries instead of the earlier uniform-float entries are what
    makes the op ORACLE-CHECKABLE (r10): the bucket bit is the sign of
    Σ ±q(emb[d]) over 6dp-quantized components — EXACT integer
    arithmetic, so numpy's blocked GEMM and DuckDB's sequential sum
    cannot disagree even when a dot product lands near zero, whereas
    float hyperplane dots have engine-dependent summation order and an
    irreducible sign-flip hazard at the decision boundary.  Rademacher
    projections are a standard JL/sign-LSH family (Achlioptas-style);
    measured recall vs the exact top-k is unchanged (the ≥0.9 gate in
    tests/test_llm_pipeline.py)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(64):
            # same xorshift-ish scramble as before; keep only the sign
            x = (p * 2654435761 + d * 40503 + 12345) & 0xFFFFFFFF
            x ^= x >> 13
            x = (x * 1274126177) & 0xFFFFFFFF
            row.append(1 if x >= 0x80000000 else -1)
        planes.append(row)
    return planes


def _lsh_buckets_of(emb: DataFrame) -> DataFrame:
    """Bucket index (vec_id, b0..b{L-1}) for any (vec_id, emb) frame:
    bucket_t packs LSH_BITS sign bits of hyperplane dot products.

    All LSH_TABLES*LSH_BITS dots compute in ONE Arrow-batched numpy
    GEMM per partition (batch_rows × planes^T) — the interpreted HOF
    form ran 96 aggregate lambdas per row and was ~5x slower at sf0.1.
    Output is the narrow index only (no embedding payload), so the
    Arrow return path carries L longs per row.  Taking the input as a
    DataFrame lets callers pre-filter (e.g. to the single query row)
    BEFORE the GEMM — a filter placed after mapInPandas cannot be
    pushed through it and would re-run the full-corpus GEMM."""
    emb = emb.select("vec_id", "emb")
    planes = _hyperplane_signs()

    def gen(batches):
        import numpy as np
        import pandas as pd

        P = np.asarray(planes, dtype=np.int64)  # (tables*bits, dim)
        weights = 1 << np.arange(LSH_BITS)
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.vstack(pdf["emb"].to_numpy())
            # floor(x·scale + 0.5): the repo's cross-engine rounding
            # recipe (np.round is half-to-even, DuckDB round is
            # half-away — floor+0.5 is the same text on both)
            Eq = np.floor(E * LSH_Q_SCALE + 0.5).astype(np.int64)
            bits = (Eq @ P.T) >= 0  # exact integer GEMM
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for t in range(LSH_TABLES):
                out[f"b{t}"] = bits[:, t * LSH_BITS : (t + 1) * LSH_BITS] @ weights
            yield pd.DataFrame(out)

    schema = "vec_id bigint, " + ", ".join(f"b{t} bigint" for t in range(LSH_TABLES))
    return emb.mapInPandas(gen, schema)


def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: multi-table (band-OR) sign-LSH — the corpus explodes into
    (table, bucket) index rows, the query's L probes broadcast into an
    equi-join on (table, bucket), distinct candidates get exact
    cosine, top-k wins.  Oracle-backed since r10 (±1 hyperplanes over
    quantized integers make the bucket index engine-exact — see
    _hyperplane_signs); recall ≥ 0.9 vs the exact top-k is still
    asserted in tests/test_llm_pipeline.py (the approximation is in
    WHICH candidates the index surfaces, which is now deterministic,
    not in how they are scored).

    Scale: candidate generation is linear in corpus × L (same shape as
    the MinHash LSH bands in dedup) and the probe join touches only
    matching buckets — the (table, bucket) index is also the natural
    physical partition key for scan pruning.  No full-corpus scoring
    scan, no driver traffic beyond the plan."""
    emb = _emb_cosine(spark, sf_dir)
    index = _lsh_buckets_of(emb).select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(LSH_TABLES)])).alias(
            "tbl", "bucket"
        ),
    )
    # buckets of the query row only: filter BEFORE the GEMM stage.
    qprobes = _lsh_buckets_of(emb.where(F.col("vec_id") == QUERY_VEC_ID)).select(
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(LSH_TABLES)])).alias(
            "tbl", "bucket"
        )
    )
    candidates = (
        index.join(F.broadcast(qprobes), ["tbl", "bucket"])
        .select("vec_id")
        .distinct()
    )
    qv = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("emb").alias("qv"))
    scored = (
        emb.join(candidates, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("emb"), F.col("qv"))
                / (
                    F.sqrt(_dot(F.col("emb"), F.col("emb")))
                    * F.sqrt(_dot(F.col("qv"), F.col("qv")))
                ),
                4,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(TOP_K)


def _ann_lsh_oracle() -> str:
    """DuckDB twin of sim_ann_lsh_topk, exact by construction: the ±1
    hyperplane signs inline as grouped +/− component sums over the
    6dp-quantized embedding (integer arithmetic — see
    _hyperplane_signs), bucket bits pack with the same weights, the
    band-OR candidate join is 24 OR'd equalities against the query
    row's buckets, and scoring reuses the exact-cosine text of
    SIM_TOPK_ORACLE."""
    planes = _hyperplane_signs()

    def plane_dot(p: int) -> str:
        pos = [f"e[{d + 1}]" for d, s in enumerate(planes[p]) if s > 0]
        neg = [f"e[{d + 1}]" for d, s in enumerate(planes[p]) if s < 0]
        return f"(({' + '.join(pos)}) - ({' + '.join(neg)}))"

    bucket_cols = []
    for t in range(LSH_TABLES):
        bits = " + ".join(
            f"{1 << b} * CASE WHEN {plane_dot(t * LSH_BITS + b)} >= 0"
            " THEN 1 ELSE 0 END"
            for b in range(LSH_BITS)
        )
        bucket_cols.append(f"({bits}) AS b{t}")
    bucket_select = ",\n         ".join(bucket_cols)
    band_or = " OR ".join(f"a.b{t} = qb.b{t}" for t in range(LSH_TABLES))
    return f"""
WITH qe AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(floor(x * {LSH_Q_SCALE}.0 + 0.5) AS BIGINT)) AS e
  FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
),
bk AS (
  SELECT vec_id,
         {bucket_select}
  FROM qe
),
qb AS (SELECT * FROM bk WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT DISTINCT a.vec_id FROM bk a, qb
  WHERE {band_or}
),
q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = {QUERY_VEC_ID}
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
)
SELECT e.vec_id,
       ROUND(
         list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(qv, qv))), 4) AS cosine
FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id, q
ORDER BY cosine DESC, e.vec_id
LIMIT {TOP_K}
"""


SIM_ANN_LSH_ORACLE = _ann_lsh_oracle()


# --------------------------------------------------------------------------
# Distributed blocked GEMM — the exact all-pairs engine behind
# sim_knn_top1 and sim_cosine_dup_pairs.
#
# The corpus never touches the driver: rows hash into ~GEMM_BLOCK_ROWS
# blocks, groupBy().applyInPandas packs each block into one
# (ids, row-major matrix) row, block pairs cross-join (B² tiny rows of
# packed matrices), and mapInPandas runs one numpy GEMM per pair.
# Per-task memory is two blocks; compute parallelism is B².  A pure
# zip_with/aggregate pairwise join computes the same thing ~30× slower
# (interpreted per-element lambdas + projection-collapse recompute).
_PACK_SCHEMA = "block int, ids array<bigint>, mat array<double>"

#: Target rows per packed GEMM block.  Bounds per-task memory at any
#: corpus size: a task holds two blocks ≈ 2 × GEMM_BLOCK_ROWS × dim
#: doubles plus the GEMM output tile, regardless of N.
GEMM_BLOCK_ROWS = 1024


def _packed_blocks(emb: DataFrame, n_blocks_hint: int | None = None) -> DataFrame:
    """Pack L2-normalized vectors into matrix blocks, DataFrame-side.

    Block count: callers that know the corpus size pass a hint;
    otherwise one cheap count job derives `ceil(N / GEMM_BLOCK_ROWS)`,
    so block size — and therefore per-task memory — is bounded at any
    SF instead of growing as N/constant.  On a cluster with ANALYZE'd
    tables the count would come from catalog stats; the mechanism
    (hash-partition → pack → pair join) is unchanged."""
    import math

    import numpy as np
    import pandas as pd

    if n_blocks_hint is not None:
        n_blocks = max(1, n_blocks_hint)
    else:
        n_blocks = max(1, math.ceil(emb.count() / GEMM_BLOCK_ROWS))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        order = np.argsort(ids)
        ids = ids[order]
        M = np.array(list(pdf["emb"]), dtype=np.float64)[order]
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        return pd.DataFrame(
            {
                "block": [int(pdf["block"].iloc[0])],
                "ids": [ids.tolist()],
                "mat": [Mn.ravel().tolist()],
            }
        )

    return (
        emb.select(
            "vec_id",
            "emb",
            F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int").alias("block"),
        )
        .groupBy("block")
        .applyInPandas(pack, _PACK_SCHEMA)
    )


def _block_pairs(packed: DataFrame) -> DataFrame:
    """All B² ordered (A-block, B-block) combinations.  Each unordered
    doc pair (i<j) appears in exactly one combination when the GEMM
    masks to id_b > id_a, so no dedup stage is needed.

    The packed blocks are localCheckpoint-ed first: both crossJoin
    branches reference the same pack, and without materialization the
    corpus scan + groupBy + pack would execute twice — at 100 TB that
    doubles the dominant cost.  Checkpoint storage is executor-local
    (the normalized corpus, same order of size as the input)."""
    packed = packed.localCheckpoint(eager=True)
    a = packed.select(
        F.col("ids").alias("ids_a"), F.col("mat").alias("mat_a")
    )
    b = packed.select(
        F.col("ids").alias("ids_b"), F.col("mat").alias("mat_b")
    )
    return a.crossJoin(b)


def sim_knn_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-NN self-join: every vector's nearest neighbor by cosine,
    via distributed blocked GEMM (see module header) — no driver
    collect.  Each (A,B) block pair emits A's local best against B;
    a final groupBy takes the global max with the oracle's tie-break
    (cos DESC, nn_id ASC — encoded as max(struct(cos, -nn_id))).

    The exact tier of similarity search; at 100 TB the same
    verification GEMM is fed by the LSH/IVF candidate generators
    instead of all B² block pairs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    emb = _emb_cosine(spark, sf_dir)
    pairs = _block_pairs(_packed_blocks(emb))

    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("cos", DoubleType()),
            StructField("neg_id", LongType()),
        ]
    )

    def local_best(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ia = np.array(row["ids_a"], dtype=np.int64)
                ib = np.array(row["ids_b"], dtype=np.int64)
                A = np.array(row["mat_a"], dtype=np.float64).reshape(len(ia), -1)
                B = np.array(row["mat_b"], dtype=np.float64).reshape(len(ib), -1)
                S = A @ B.T
                S[ia[:, None] == ib[None, :]] = -np.inf  # exclude self
                # quantize to 4dp BEFORE ranking: the GEMM computes
                # (x/|x|)·(y/|y|) in BLAS order while the oracle folds
                # dot/(|x||y|) sequentially — last-ulp differences on
                # near-ties would otherwise flip nn_id between the
                # engines; at 4dp ties collapse and the id tie-break
                # decides identically on both sides (floor(-inf) stays
                # -inf, so self-masking survives quantization)
                S = np.floor(S * 1e4 + 0.5) / 1e4
                # per-A-row best in this B block, ties → smallest id:
                # ib ascending ⇒ argmax first-occurrence
                best = S.argmax(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": ia,
                        "cos": S[np.arange(len(ia)), best],
                        "neg_id": -ib[best],
                    }
                )

    best = (
        pairs.mapInPandas(local_best, out_schema)
        .groupBy("vec_id")
        .agg(F.max(F.struct("cos", "neg_id")).alias("m"))
    )
    # a -inf best survives only when a vector's every candidate was
    # itself (single-usable-vector corpus): the oracle's a<>b join
    # yields no row there, so drop it instead of emitting a self-NN
    return best.where(F.col("m.cos") > F.lit(float("-inf"))).select(
        "vec_id",
        (-F.col("m.neg_id")).alias("nn_id"),
        F.col("m.cos").alias("nn_cosine"),
    ).orderBy("vec_id")


SIM_KNN_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
n AS (
  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e
  WHERE list_dot_product(emb, emb) > 0
),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         floor(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
               * 1e4 + 0.5) / 1e4 AS cos
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT a_id, b_id, cos,
         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
  FROM pairs
)
SELECT a_id AS vec_id, b_id AS nn_id, cos AS nn_cosine
FROM ranked WHERE rn = 1
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# The IVF family (integer-Lloyd codebook; whole family oracle-checked
# since r11).  r6–r10 history: the family first shipped on an MLlib
# KMeans codebook (float Lloyd, seed 42) and was rows-only checked —
# float Lloyd iterations are summation-order-dependent, so no SQL twin
# could reproduce the fit.  Round 10 proved the alternative on a
# side-by-side query (sim_ivf_int_topk): replace the float fit with
# EXACT integer arithmetic — embeddings quantize once to 6dp
# fixed-point, centroids are truncated integer means (a ≤1-quantum
# perturbation of true Lloyd, irrelevant to clustering quality),
# distances and the probe-order cosine numerators/norms are exact
# int64 sums, and every float the two engines compare is produced by
# the same single correctly-rounded IEEE op on identical integer
# inputs.  Measured recall@20 vs the exact baseline was EQUAL OR
# BETTER than the MLlib tier at two of three SFs (0.55/0.85/0.75 vs
# the float tier at sf0.001/0.01/0.1), so r11 rebased the whole
# serving family — base tier, multiprobe, recall curve — on the
# integer codebook (r10 verdict item 1) and retired the MLlib fit.
# Result: fit, assignment, probe selection, candidate scan, and
# exact-cosine top-k ALL have DuckDB twins that match bit-for-bit.
#
# Design history preserved from the MLlib era (both still true on the
# integer codebook):
#   * nprobe is THE serving-time recall/compute knob — the scanned
#     fraction doubles from base to multiprobe (4/16 → 8/16 of the
#     corpus here; at production k≈√n it's a tiny slice) while the
#     codebook and assignment stay untouched.
#   * The textbook constant-compute alternative (4× finer codebook,
#     4× wider probe) was measured WORSE at this corpus scale — k=64
#     cells over ~500 vectors leaves ~8 vectors per cell and
#     sample-trained centroids too noisy to rank (recall@20 dropped
#     0.60 → 0.55 at sf0.001).  Finer codebooks need the corpus to
#     grow with k; the nprobe ladder is the honest knob at every
#     scale.
IVF_INT_ITERS = 6

#: trunc-toward-zero integer division, spelled engine-neutrally:
#: Spark DIV and DuckDB // both truncate, but the CASE form makes the
#: semantics explicit in the shared text (and matches numpy's
#: sign(s)·(|s|//n) in the assignment UDF).
_TRUNC_DIV = "CASE WHEN s >= 0 THEN s DIV n ELSE -((-s) DIV n) END"

#: embedding dimensionality — already assumed throughout the PQ tier
#: (PQ_SUBDIM = 64 // PQ_M and the fixed slice positions); named here
#: so the Lloyd-round aggregation below can be spelled per-dim.
_EMB_DIM = 64


def _trunc_div_py(s: int, n: int) -> int:
    """The Python twin of _TRUNC_DIV (exact on arbitrary ints)."""
    s, n = int(s), int(n)
    return s // n if s >= 0 else -((-s) // n)


def _dim_sum_aggs(col: str, n_dims: int) -> list:
    """Per-dim SUM + one COUNT(*) aggregate over an array column —
    the one-exchange replacement for posexplode → (key, dim) agg →
    collect_list (r14, guide §2.3/§2.4): the explode multiplied every
    row n_dims-fold and each Lloyd round paid TWO exchanges plus an
    array_sort(collect_list) merely to rebuild arrays the driver was
    about to take() anyway.  The arrays are fixed-width (the PQ tier
    hardcodes the 64-dim layout already), so the old per-(key, dim)
    exploded row count equals the group's COUNT(*); the trunc-div
    moves to driver Python on the model-sized take() result — same
    integers, one exchange, no row multiplication."""
    return [
        F.sum(F.get(F.col(col), F.lit(d))).alias(f"s{d}")
        for d in range(n_dims)
    ] + [F.count("*").alias("n")]


def _dims_of(row, n_dims: int) -> list[int]:
    """Centroid array from a per-dim-SUM/COUNT(*) row (s{d} is None
    only when no member carried that slot — impossible on the
    fixed-width corpus, guarded for form)."""
    n = row["n"]
    return [
        _trunc_div_py(row[f"s{d}"], n)
        for d in range(n_dims)
        if row[f"s{d}"] is not None
    ]


def _pq_codebooks(cents: dict[tuple[int, int, int], list[int]]):
    """The PQ codebook layout, built here only: `cents` maps (cell, j,
    code) to a sub-centroid, and books[(cell, j)] holds (code ids
    ascending, the sub-centroids as int64 rows in that order, their
    squared norms) — so np.argmin over a row of scores ties to the
    smallest code id, like the spec's FIRST(code ORDER BY dist2, code).
    `book(cell, j)` is the executor-side lookup: an uncovered cell
    raises ValueError naming the callers' pre-filter contract instead
    of a bare KeyError."""
    import numpy as np

    codes: dict[tuple[int, int], list[int]] = {}
    for cell, j, k in sorted(cents):
        codes.setdefault((cell, j), []).append(k)
    books = {}
    for (cell, j), ks in codes.items():
        C = np.asarray([cents[(cell, j, k)] for k in ks], dtype=np.int64)
        books[(cell, j)] = (
            np.asarray(ks, dtype=np.int64),
            C,
            (C * C).sum(axis=1),
        )

    def book(cell, j):
        try:
            return books[(cell, j)]
        except KeyError:
            raise ValueError(
                f"PQ kernel got cell {cell}, which has no codebook "
                f"for subspace {j}: callers pre-filter to covered cells "
                "(cells with at least one train member)"
            ) from None

    return books, book


def _rpq_round_kernel(cents: dict[tuple[int, int, int], list[int]]):
    """The mapInArrow function of one fused Lloyd round: (cell, r)
    batches → per-(cell, j, code) partial sums and counts, at most
    |cells|·PQ_M·PQ_K rows per task.  Its helpers are nested so the
    kernel pickles by value as a whole."""
    import numpy as np

    books, book = _pq_codebooks(cents)

    def fixed(col):
        # (n, _EMB_DIM) int64 from an Arrow list<int64> column: one
        # flatten of the value buffer (offset-safe), no per-row objects
        flat = col.flatten().to_numpy(zero_copy_only=False)
        return flat.astype(np.int64, copy=False).reshape(-1, _EMB_DIM)

    def scatter_sums(acc, cnt, pos, E):
        # acc[p] += column sums of E's rows with pos == p, cnt[p] +=
        # their count.  Exact int64 via one stable argsort +
        # np.add.reduceat — np.add.at's unbuffered scatter measured an
        # order of magnitude slower on row blocks this shape.
        if not len(pos):
            return
        order = np.argsort(pos, kind="stable")
        ps = pos[order]
        starts = np.flatnonzero(np.r_[True, ps[1:] != ps[:-1]])
        acc[ps[starts]] += np.add.reduceat(E[order], starts, axis=0)
        cnt += np.bincount(pos, minlength=len(cnt))

    def fn(it):
        import pyarrow as pa

        acc = {key: np.zeros_like(b[1]) for key, b in books.items()}
        cnt = {
            key: np.zeros(len(b[0]), dtype=np.int64)
            for key, b in books.items()
        }
        for batch in it:
            cl = batch.column(0).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            R = fixed(batch.column(1))
            for cell in np.unique(cl).tolist():
                # one row gather per cell; the subspaces below are views
                Rc = R[cl == cell]
                for j in range(PQ_M):
                    _, C, cn2 = book(cell, j)
                    E = Rc[:, j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]
                    # argmin of dist² == argmin of (−2·e·c + |c|²): |e|²
                    # is a per-row constant
                    pos = np.argmin(-2 * (E @ C.T) + cn2[None, :], axis=1)
                    scatter_sums(acc[(cell, j)], cnt[(cell, j)], pos, E)
        parts = [(key, np.nonzero(cnt[key])[0]) for key in books]
        parts = [(key, nz) for key, nz in parts if len(nz)]
        if not parts:
            return

        def int32s(xs):
            return pa.array(
                np.concatenate(xs).astype("int32"), type=pa.int32()
            )

        S = np.concatenate([acc[key][nz] for key, nz in parts])
        yield pa.RecordBatch.from_arrays(
            [
                int32s([np.full(len(nz), key[0]) for key, nz in parts]),
                int32s([np.full(len(nz), key[1]) for key, nz in parts]),
                int32s([books[key][0][nz] for key, nz in parts]),
            ]
            + [pa.array(S[:, d]) for d in range(PQ_SUBDIM)]
            + [pa.array(np.concatenate([cnt[k][nz] for k, nz in parts]))],
            names=["cell", "j", "code"]
            + [f"s{d}" for d in range(PQ_SUBDIM)]
            + ["n"],
        )

    return fn


def _rpq_round_sums(
    train: DataFrame, cents: dict[tuple[int, int, int], list[int]]
) -> DataFrame:
    """One fused joint-Lloyd round over (cell, r) rows (r15, guide §4):
    the _rpq_round_kernel mapInArrow plus a (cell, j, code) sum of its
    model-sized partials, replacing subspace explode (32× rows) →
    assignment pandas UDF → hash aggregate.  Integer-identical to the
    spec composition in tests/pq_spec.py (same argmin and tie-break per
    (cell, j); int64 sums associate).  Callers pre-filter to cells with
    a codebook (train rows always are: each train vector is a member of
    its own cell); an uncovered cell raises ValueError."""
    schema = (
        "cell int, j int, code int, "
        + ", ".join(f"s{d} bigint" for d in range(PQ_SUBDIM))
        + ", n bigint"
    )
    return (
        train.select("cell", "r")
        .mapInArrow(_rpq_round_kernel(cents), schema)
        .groupBy("cell", "j", "code")
        .agg(
            *[F.sum(f"s{d}").alias(f"s{d}") for d in range(PQ_SUBDIM)],
            F.sum("n").alias("n"),
        )
    )


def _int_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, emb double[], e bigint[]) — positive-norm embeddings
    with their 6dp fixed-point quantization (floor(x·1e6 + 0.5), the
    repo's cross-engine rounding recipe)."""
    emb = _emb_cosine(spark, sf_dir)
    return emb.select(
        "vec_id",
        "emb",
        F.transform(
            "emb",
            lambda x: F.floor(x * F.lit(float(LSH_Q_SCALE)) + F.lit(0.5))
            .cast("long"),
        ).alias("e"),
    )


_INT_TRAIN_GATE_DUCK = (
    "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"
    " % 2 = 0"
)


def _int_train_gate():
    """Deterministic ~50% training sample, md5-based so the oracle can
    reproduce it (the MLlib tier's xxhash64 gate cannot be)."""
    return (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 2
        == 0
    )


def _int_assign(eq: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """Nearest-centroid assignment over int64 quantized embeddings —
    an Arrow-batched integer GEMM (exact; ties to the smallest cell id,
    matching the oracle's FIRST(cell ORDER BY dist2, cell))."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    cell_ids = sorted(cents)
    C = [list(map(int, cents[j])) for j in cell_ids]

    # no type-hint signature: `pd` is function-local here, and with
    # module-level `from __future__ import annotations` the string
    # hints would be unresolvable in module globals at decoration time
    @pandas_udf(IntegerType())
    def cellof(es):
        if not len(es):
            return pd.Series([], dtype="int32")
        Cn = np.asarray(C, dtype=np.int64)
        cn2 = (Cn * Cn).sum(axis=1)
        ids = np.asarray(cell_ids, dtype=np.int64)
        E = np.vstack(es.to_numpy()).astype(np.int64)
        # argmin of dist² == argmin of (−2·e·c + |c|²); |e|² is a
        # per-row constant.  All int64, no overflow: |e|,|c| ≤ ~1.1e6,
        # 64 dims ⇒ |e·c| ≤ 7.8e13.
        score = -2 * (E @ Cn.T) + cn2[None, :]
        return pd.Series(ids[np.argmin(score, axis=1)].astype("int32"))

    return eq.withColumn("cell", cellof("e"))


def _int_lloyd_fit(eq_train: DataFrame) -> dict[int, list[int]]:
    """IVF_INT_ITERS rounds of integer Lloyd from a first-k-by-vec_id
    seed.  Per round: one assignment pass + one (cell, dim) integer-sum
    aggregation; the new centroids — model-sized, k·dim ints — come
    back to the driver exactly like MLlib's own fit loop.  Cells that
    lose all members vanish (the oracle's GROUP BY does the same)."""
    # materialize the train slice ONCE: the seed take plus every Lloyd
    # round below re-scans it, and without the barrier each of those
    # 1 + IVF_INT_ITERS jobs re-executes the full upstream lineage
    # (parquet scan + quantize transform) — guide §5's localCheckpoint
    # discipline, the same fix the CC/PageRank loops carry.  Production
    # persists its training sample before a fit loop for the same
    # reason; values are untouched (r14 quiet evidence: the residual
    # tier's 65 CPU-s collapses with this family of barriers).
    eq_train = eq_train.localCheckpoint(eager=False)
    seed = (
        eq_train.orderBy("vec_id").limit(IVF_CELLS).select("e").take(IVF_CELLS)
    )
    cents = {j: [int(v) for v in r["e"]] for j, r in enumerate(seed)}
    if not cents:
        return {}
    # NOT fused (r15, measured): a _lloyd_round_sums-style fused
    # assign+partial-sum round was built and REJECTED here — paired
    # same-window A/B on sim_ivf_int_topk (the purest consumer, full-
    # corpus fit) read old 3.81 s wall / 14.35 CPU-s vs fused 4.62 /
    # 14.41 at 0.7% steal: CPU flat, wall +21%.  Unlike the PQ tiers
    # there is no row explode to remove — the pandas-UDF assignment +
    # 64-sum JVM hash aggregate is already one boundary crossing of n
    # rows — so the fusion only swapped JVM aggregation for kernel
    # bookkeeping.  The PQ/residual fits keep their fused rounds,
    # where killing the 32×-row explode is the win (guide §1.2: fix
    # the shape first; per-task work second).
    aggs = _dim_sum_aggs("e", _EMB_DIM)
    for _ in range(IVF_INT_ITERS):
        rows = (
            _int_assign(eq_train, cents)
            .groupBy("cell")
            .agg(*aggs)
            .take(IVF_CELLS)
        )
        cents = {int(r["cell"]): _dims_of(r, _EMB_DIM) for r in rows}
    return cents


def _ivf_int_build(
    spark: SparkSession, sf_dir: str, full_train: bool = False
):
    """Codebook fit + full-corpus assignment + the query row — shared
    by every IVF serving tier and the recall curve.  full_train=False
    fits on the deterministic ~50% md5 sample (the production default:
    a codebook needs a representative sample, not the corpus);
    full_train=True fits on every positive-norm vector — the
    training-sample axis sim_ivf_int_topk measures."""
    eq = _int_quantized(spark, sf_dir)
    train = eq if full_train else eq.where(_int_train_gate())
    cents = _int_lloyd_fit(train.select("vec_id", "e"))
    if not cents:
        return None, {}, None
    # materialize the full-corpus assignment ONCE: every serving tier
    # consumes it at least twice (the query-row fetch below + the
    # probed-cell scan), and the PQ/residual tiers re-join it up to
    # three more times (residual subtraction, candidate slice, final
    # encode) — each consumption re-ran the parquet scan AND the
    # Arrow-batched coarse GEMM before this barrier.  Production
    # persists the assignment table at index-build time; this is the
    # in-query equivalent (recall-curve has carried it since r9).
    assigned = _int_assign(eq, cents).localCheckpoint(eager=True)
    qrow = (
        assigned.where(F.col("vec_id") == QUERY_VEC_ID)
        .select("emb", "e")
        .first()
    )  # single driver job: one row
    return assigned, cents, qrow


def _int_probe_order(
    qe: list[int], cents: dict[int, list[int]]
) -> list[int]:
    """All cells sorted nearest-first to the quantized query — tiny
    driver-side math on the k centroids (the model, not data).  The
    cosine numerator and both norms are exact int64 sums; the only
    float ops are two sqrt's and one division on exact integers, each
    a single correctly-rounded IEEE op the oracle's probe CTE repeats
    verbatim.  A zero-norm side sinks to -2.0 (below any real cosine)
    exactly as the oracle's CASE does — a Python int/0.0 would raise
    where DuckDB yields inf."""
    import math

    qq = sum(v * v for v in qe)

    def key(j: int) -> float:
        c = cents[j]
        a = sum(x * y for x, y in zip(qe, c))
        nn = sum(x * x for x in c)
        if qq == 0 or nn == 0:
            return -2.0
        return a / (math.sqrt(float(qq)) * math.sqrt(float(nn)))

    return sorted(cents, key=lambda j: (-key(j), j))


def _ivf_int_score(cand: DataFrame, qdf: DataFrame) -> DataFrame:
    """Exact-cosine top-k over the probed candidate slice — the shared
    serving stage: broadcast 1-row query, distributed scan,
    TakeOrderedAndProject (same plan shape as sim_cosine_topk, on
    nprobe/k of the corpus)."""
    return (
        cand.crossJoin(F.broadcast(qdf))
        .select(
            "vec_id",
            "cell",
            F.round(
                _dot(F.col("emb"), F.col("qv"))
                / (
                    F.sqrt(_dot(F.col("emb"), F.col("emb")))
                    * F.sqrt(_dot(F.col("qv"), F.col("qv")))
                ),
                4,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


_IVF_EMPTY_SCHEMA = "vec_id bigint, cell int, cosine double"


def _ivf_int_serve(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    full_train: bool = False,
) -> DataFrame:
    assigned, cents, qrow = _ivf_int_build(spark, sf_dir, full_train)
    if not cents or qrow is None:
        # empty corpus / empty train slice / absent-or-zero-norm query:
        # cosine against it is undefined — empty result, same schema
        return spark.createDataFrame([], _IVF_EMPTY_SCHEMA)
    probe = _int_probe_order([int(v) for v in qrow["e"]], cents)[:nprobe]
    qdf = spark.createDataFrame([(qrow["emb"],)], "qv array<double>")
    return _ivf_int_score(assigned.where(F.col("cell").isin(probe)), qdf)


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, base serving tier: integer-Lloyd coarse quantizer →
    IVF_NPROBE nearest cells → exact cosine top-k inside them.
    Oracle-checked END-TO-END (fit included) since the r11 rebase off
    the MLlib codebook — see the family note above.

    Scale: the fit samples ~50% (md5 gate), assignment is one
    Arrow-batched integer GEMM per pass, the search scans
    |corpus|·nprobe/k rows, and driver traffic is the k·dim-int
    codebook per round — model-sized, the same shape MLlib's own fit
    loop uses.  Cell ids can become a partition column for physical
    pruning at 100 TB."""
    return _ivf_int_serve(spark, sf_dir, IVF_NPROBE)


def sim_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF (r7 verdict item 8a): the SAME codebook as
    sim_ivf_topk probed twice as wide (nprobe 8 vs 4).  The fit is
    deterministic, so the probed cell set is a SUPERSET of the base
    tier's, the scanned candidate set is a superset, and recall@k is
    non-decreasing BY CONSTRUCTION — the invariant
    tests/test_llm_pipeline.py pins, alongside the recall floor.
    nprobe doubles the scanned fraction; codebook and assignment stay
    untouched (the serving-time knob — see the family note for why
    the finer-codebook-at-constant-compute alternative measured
    worse)."""
    return _ivf_int_serve(spark, sf_dir, IVF_MP_NPROBE)


def sim_ivf_int_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-sample-axis variant: same integer-Lloyd machinery
    and nprobe as sim_ivf_topk, codebook fit on the FULL positive-norm
    corpus instead of the ~50% md5 sample.  This is the r10 query that
    proved the integer fit before the r11 family rebase; with the
    serving tiers now on the sampled fit, it measures the question a
    production codebook owner actually tunes: does halving the
    training set cost recall?  (Measured recall@20 full vs sampled:
    0.80 vs 0.55 / 0.85 vs 0.85 / 0.85 vs 0.75 at sf0.001/0.01/0.1 —
    the full fit wins clearly only at the smallest SF, where the 50%
    sample is ~250 vectors against k=16 cells; the gap closes as the
    sample grows relative to k, which is WHY sampling is the
    production default at scale.)  Oracle-checked end-to-end,
    codebook included, like the rest of the family."""
    return _ivf_int_serve(spark, sf_dir, IVF_NPROBE, full_train=True)


IVF_CURVE_NPROBES = (1, 2, 4, 8, 16)


def sim_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF serving-time tuning table: recall@TOP_K vs the exact
    brute-force top-k at every nprobe on the ladder, with the candidate
    count each setting scans — THE artifact an ANN deployment reads to
    pick its recall/compute point.  At nprobe = IVF_CELLS the probe
    covers every cell, the candidate set is the whole corpus, and the
    ranking formula/tie-break equals the brute-force query's — recall
    is exactly 1.0 by construction (pytest pins this plus recall
    monotonicity in nprobe).

    Scale — ONE scored corpus pass for the whole ladder (r15; guide
    §2.4's shared-exchange discipline, the same nesting trick the LSH
    band ladder carries): the probed cell sets NEST (order[:1] ⊆
    order[:2] ⊆ …), so instead of five candidate scans + five
    distributed top-k's + ten count jobs, the plan scores every
    vector once against the broadcast query, attaches each cell's
    PROBE RANK (its position in the nearest-first order — rank < np
    ⟺ cell ∈ order[:np], a 16-entry driver-side map), and keeps the
    per-cell top-TOP_K via one cell-partitioned window.  Membership
    of a row in ladder step np's top-k is then decided among the ≤
    IVF_CELLS·TOP_K survivors alone: a row is in topk(np) iff its
    rank < np and fewer than TOP_K better-scoring survivor rows
    (same (cosine desc, vec_id) total order) have rank < np — any
    non-survivor that outscores it implies ≥ TOP_K same-cell
    survivors that also do, so pruning to survivors never changes
    the decision.  Candidates per step fold into the same pass as a
    per-cell count.  Every ladder row falls out of ONE conditional
    aggregation over the survivor set — identical integers to the
    per-step formulation, proven against the unchanged per-step
    DuckDB oracle.  Oracle-checked since the r11 integer-codebook
    rebase (previously rows-only on the MLlib fit); quantitative
    invariants stay in tests/test_llm_pipeline.py."""
    eq = _int_quantized(spark, sf_dir)
    cents = _int_lloyd_fit(eq.where(_int_train_gate()).select("vec_id", "e"))
    empty = "nprobe int, candidates bigint, hits bigint, recall double"
    if not cents:
        return spark.createDataFrame([], empty)
    assigned = _int_assign(eq, cents).localCheckpoint(eager=True)
    qrow = (
        assigned.where(F.col("vec_id") == QUERY_VEC_ID)
        .select("emb", "e")
        .first()
    )
    if qrow is None:
        return spark.createDataFrame([], empty)
    exact = (
        sim_cosine_topk(spark, sf_dir).select("vec_id")
        .localCheckpoint(eager=True)
    )
    # recall denominator = the exact result's row count, not TOP_K:
    # a corpus slice smaller than TOP_K yields fewer exact rows, and
    # full-probe recall must still be exactly 1.0 (ADVICE r9)
    n_exact = exact.agg(F.count("*").alias("exact_k"))
    order = _int_probe_order([int(v) for v in qrow["e"]], cents)
    qdf = spark.createDataFrame([(qrow["emb"],)], "qv array<double>")
    # cell → probe rank: model-sized driver math shipped as a literal
    # map (rank < np ⟺ cell ∈ order[:np] by construction)
    rank_map = F.create_map(
        *[F.lit(v) for cell, r in zip(order, range(len(order)))
          for v in (cell, r)]
    )
    scored = assigned.crossJoin(F.broadcast(qdf)).select(
        "vec_id",
        F.element_at(rank_map, F.col("cell")).alias("rk"),
        F.round(
            _dot(F.col("emb"), F.col("qv"))
            / (
                F.sqrt(_dot(F.col("emb"), F.col("emb")))
                * F.sqrt(_dot(F.col("qv"), F.col("qv")))
            ),
            4,
        ).alias("cosine"),
    )
    # per-cell top-TOP_K + per-cell candidate count: one exchange by
    # rank class (= cell), two window functions over it
    w_cell = Window.partitionBy("rk")
    w_rank = w_cell.orderBy(F.col("cosine").desc(), "vec_id")
    surv = (
        scored.withColumn("cell_n", F.count("*").over(w_cell))
        .withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= TOP_K)
    )
    # survivor set is model-sized (≤ IVF_CELLS·TOP_K rows): the global
    # better-scoring prefix counts below run on it, not the corpus
    marked = surv.join(
        F.broadcast(exact.withColumn("hit", F.lit(True))),
        "vec_id",
        "left",
    )
    w_prefix = Window.orderBy(
        F.col("cosine").desc(), "vec_id"
    ).rowsBetween(Window.unboundedPreceding, -1)
    better = marked.select(
        "rk",
        "cell_n",
        "rn",
        F.coalesce("hit", F.lit(False)).alias("hit"),
        *[
            F.coalesce(
                F.sum(
                    F.when(F.col("rk") < F.lit(np_), F.lit(1)).cast("long")
                ).over(w_prefix),
                F.lit(0).cast("long"),
            ).alias(f"b{np_}")
            for np_ in IVF_CURVE_NPROBES
        ],
    )
    agg = better.agg(
        *[
            col
            for np_ in IVF_CURVE_NPROBES
            for col in (
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("rk") < F.lit(np_)) & (F.col("rn") == 1),
                            F.col("cell_n"),
                        )
                    ),
                    F.lit(0).cast("long"),
                ).alias(f"cand{np_}"),
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("rk") < F.lit(np_))
                            & (F.col(f"b{np_}") < F.lit(TOP_K))
                            & F.col("hit"),
                            F.lit(1),
                        ).cast("long")
                    ),
                    F.lit(0).cast("long"),
                ).alias(f"hit{np_}"),
            )
        ]
    )
    melted = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(np_).alias("nprobe"),
                        F.col(f"cand{np_}").alias("candidates"),
                        F.col(f"hit{np_}").alias("hits"),
                    )
                    for np_ in IVF_CURVE_NPROBES
                ]
            )
        ).alias("s")
    ).select("s.*")
    return (
        melted.crossJoin(F.broadcast(n_exact))
        .select(
            "nprobe",
            "candidates",
            "hits",
            _fr4(F.col("hits") * F.lit(1.0) / F.col("exact_k")).alias(
                "recall"
            ),
        )
        .orderBy("nprobe")
    )


def _ivf_chain_ctes(full_train: bool = False) -> list[str]:
    """The shared oracle prefix for every IVF-family twin: quantize,
    train slice, the IVF_INT_ITERS Lloyd rounds unrolled as chained
    CTEs (the pagerank recipe), the final full-corpus assignment, and
    the query-side probe keys — every distance / centroid /
    probe-order quantity in the same exact integer arithmetic,
    trunc-div spelled with the same CASE text.  CTEs are MATERIALIZED
    because DuckDB 1.0 inlines single-reference CTEs and would
    otherwise re-evaluate the whole chain per level (measured 133 s →
    0.2 s on this oracle)."""
    dist2 = (
        "CAST(list_sum(list_transform(range(1, len(v.e) + 1),"
        " d -> (v.e[d] - c.c[d]) * (v.e[d] - c.c[d]))) AS BIGINT)"
    )
    trunc_div = _TRUNC_DIV.replace(" DIV ", " // ")
    tr_sql = "SELECT vec_id, e FROM qe0" + (
        "" if full_train else f" WHERE {_INT_TRAIN_GATE_DUCK}"
    )
    ctes = [
        f"""qe0 AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(floor(x * {LSH_Q_SCALE}.0 + 0.5) AS BIGINT)) AS e
  FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
)""",
        f"tr AS MATERIALIZED ({tr_sql})",
        f"""c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
         e AS c
  FROM tr ORDER BY vec_id LIMIT {IVF_CELLS}
)""",
    ]
    for i in range(1, IVF_INT_ITERS + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT vec_id, FIRST(cell ORDER BY dist2, cell) AS cell
  FROM (
    SELECT v.vec_id, c.cell, {dist2} AS dist2
    FROM tr v CROSS JOIN c{i - 1} c
  ) GROUP BY vec_id
)"""
        )
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT cell,
         list(CAST({trunc_div} AS BIGINT) ORDER BY dim) AS c
  FROM (
    SELECT a.cell, x.dim, SUM(x.v) AS s, COUNT(*) AS n
    FROM (SELECT vec_id, UNNEST(e) AS v,
                 UNNEST(range(1, len(e) + 1)) AS dim FROM tr) x
    JOIN a{i} a ON x.vec_id = a.vec_id
    GROUP BY a.cell, x.dim
  ) GROUP BY cell
)"""
        )
    cn = f"c{IVF_INT_ITERS}"
    ctes.append(
        f"""afin AS MATERIALIZED (
  SELECT vec_id, FIRST(cell ORDER BY dist2, cell) AS cell
  FROM (
    SELECT v.vec_id, c.cell, {dist2} AS dist2
    FROM qe0 v CROSS JOIN {cn} c
  ) GROUP BY vec_id
)"""
    )
    ctes.append(
        f"""qx AS (
  SELECT e AS qe, emb AS qv FROM qe0 WHERE vec_id = {QUERY_VEC_ID}
)"""
    )
    ctes.append(
        """qn AS (
  SELECT CAST(list_sum(list_transform(range(1, len(qe) + 1),
      d -> qe[d] * qe[d])) AS BIGINT) AS qq FROM qx
)"""
    )
    ctes.append(
        f"""pk AS (
  SELECT c.cell,
    CAST(list_sum(list_transform(range(1, len(c.c) + 1),
        d -> q.qe[d] * c.c[d])) AS BIGINT) AS a,
    CAST(list_sum(list_transform(range(1, len(c.c) + 1),
        d -> c.c[d] * c.c[d])) AS BIGINT) AS nn,
    qn.qq AS qq
  FROM {cn} c CROSS JOIN qx q CROSS JOIN qn
)"""
    )
    return ctes


#: probe-order sort key — the oracle twin of _int_probe_order's key()
_PROBE_KEY_SQL = """CASE WHEN qq = 0 OR nn = 0 THEN -2.0
                ELSE CAST(a AS DOUBLE)
                     / (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE)))
           END"""

#: the serving-stage exact cosine — the oracle twin of _ivf_int_score
_IVF_COS_SQL = (
    "ROUND(list_dot_product(e.emb, q.qv)"
    " / (sqrt(list_dot_product(e.emb, e.emb))"
    " * sqrt(list_dot_product(q.qv, q.qv))), 4)"
)


def _ivf_int_oracle(
    nprobe: int = IVF_NPROBE, full_train: bool = False
) -> str:
    """DuckDB twin of one _ivf_int_serve tier."""
    ctes = _ivf_chain_ctes(full_train)
    ctes.append(
        f"""probe AS (
  SELECT cell FROM pk
  ORDER BY {_PROBE_KEY_SQL} DESC, cell
  LIMIT {nprobe}
)"""
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT e.vec_id, a.cell, {_IVF_COS_SQL} AS cosine
FROM afin a
JOIN qe0 e ON a.vec_id = e.vec_id
CROSS JOIN qx q
WHERE a.cell IN (SELECT cell FROM probe)
ORDER BY cosine DESC, e.vec_id
LIMIT {TOP_K}
"""
    )


def _ivf_curve_oracle() -> str:
    """DuckDB twin of sim_ivf_recall_curve: ONE unrolled Lloyd chain +
    final assignment, the exact brute-force top-k, then the five
    ladder steps as per-nprobe (probe, row) CTE pairs unioned at the
    end — the oracle mirrors the Spark op's fit-once/re-scan-per-step
    shape rather than refitting per step."""
    ctes = _ivf_chain_ctes(full_train=False)
    ctes.append(
        f"""exact AS MATERIALIZED (
  SELECT e.vec_id
  FROM qe0 e CROSS JOIN qx q
  ORDER BY {_IVF_COS_SQL} DESC, e.vec_id
  LIMIT {TOP_K}
)"""
    )
    ctes.append("nx AS (SELECT COUNT(*) AS exact_k FROM exact)")
    for np_ in IVF_CURVE_NPROBES:
        ctes.append(
            f"""p{np_} AS (
  SELECT cell FROM pk
  ORDER BY {_PROBE_KEY_SQL} DESC, cell
  LIMIT {np_}
)"""
        )
        ctes.append(
            f"""r{np_} AS (
  SELECT CAST({np_} AS INTEGER) AS nprobe,
         (SELECT COUNT(*) FROM afin
          WHERE cell IN (SELECT cell FROM p{np_})) AS candidates,
         (SELECT COUNT(*) FROM (
            SELECT e.vec_id
            FROM afin a
            JOIN qe0 e ON a.vec_id = e.vec_id
            CROSS JOIN qx q
            WHERE a.cell IN (SELECT cell FROM p{np_})
            ORDER BY {_IVF_COS_SQL} DESC, e.vec_id
            LIMIT {TOP_K}
          ) t JOIN exact x ON t.vec_id = x.vec_id) AS hits
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM r{np_}" for np_ in IVF_CURVE_NPROBES
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT nprobe, candidates, hits,
       floor(hits * 1.0 / exact_k * 10000.0 + 0.5) / 10000.0 AS recall
FROM ({union}) CROSS JOIN nx
ORDER BY nprobe
"""
    )


SIM_IVF_ORACLE = _ivf_int_oracle(IVF_NPROBE)
SIM_IVF_MP_ORACLE = _ivf_int_oracle(IVF_MP_NPROBE)
SIM_IVF_INT_ORACLE = _ivf_int_oracle(IVF_NPROBE, full_train=True)
SIM_IVF_CURVE_ORACLE = _ivf_curve_oracle()


# --------------------------------------------------------------------------
def sim_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (i<j) with cosine ≥
    threshold — the embedding-space twin of the n-gram Jaccard dedup.
    Exact tier via the same distributed blocked GEMM as sim_knn_top1
    (no driver collect; each unordered pair is emitted by exactly one
    block pair).  The LSH/IVF variants are the candidate generators at
    corpus scales where exact all-pairs is unaffordable."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    emb = _emb_cosine(spark, sf_dir)
    pairs = _block_pairs(_packed_blocks(emb))

    out_schema = StructType(
        [
            StructField("v1", LongType()),
            StructField("v2", LongType()),
            StructField("cos", DoubleType()),
        ]
    )

    def emit_pairs(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ia = np.array(row["ids_a"], dtype=np.int64)
                ib = np.array(row["ids_b"], dtype=np.int64)
                A = np.array(row["mat_a"], dtype=np.float64).reshape(len(ia), -1)
                B = np.array(row["mat_b"], dtype=np.float64).reshape(len(ib), -1)
                S = A @ B.T
                # 4dp-quantize BEFORE thresholding (cf. sim_knn_top1):
                # a raw cosine within a last-ulp of the threshold would
                # be included by one engine and excluded by the other
                S = np.floor(S * 1e4 + 0.5) / 1e4
                mask = (ib[None, :] > ia[:, None]) & (S >= DUP_COSINE_THRESHOLD)
                r, c = np.nonzero(mask)
                yield pd.DataFrame(
                    {"v1": ia[r], "v2": ib[c], "cos": S[r, c]}
                )

    return (
        pairs.mapInPandas(emit_pairs, out_schema)
        .select("v1", "v2", F.col("cos").alias("cosine"))
        .orderBy("v1", "v2")
    )


SIM_DUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
n AS (
  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e
  WHERE list_dot_product(emb, emb) > 0
)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       floor(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
             * 1e4 + 0.5) / 1e4 AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE floor(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
            * 1e4 + 0.5) / 1e4 >= {DUP_COSINE_THRESHOLD}
ORDER BY v1, v2
"""

# --------------------------------------------------------------------------
SQ8_LEVELS = 127


def _sq8(unit_col):
    """Symmetric int8 quantization of a UNIT vector: floor(127·x + 0.5)
    per dimension (floor, not round — floor has identical semantics in
    Spark and DuckDB, so the oracle reproduces the codes bit-exactly)."""
    return F.transform(
        unit_col, lambda x: F.floor(SQ8_LEVELS * x + F.lit(0.5)).cast("int")
    )


def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8-range) cosine top-k: normalize, quantize
    each dimension to [-127, 127], score with an INTEGER dot product.

    The scale path this demonstrates: the quantized corpus is 4× (vs
    float32; 8× vs float64) smaller on disk and in memory, so the
    brute-force scan reads a quarter of the bytes and a broadcast
    corpus fits 4× more vectors — the standard first rung of ANN
    compression (SQ8 in FAISS terms) before IVF/PQ.  Same plan shape
    as sim_cosine_topk: broadcast 1-row query, distributed scan,
    TakeOrderedAndProject top-k; the dot product runs in integer
    arithmetic."""
    emb = _emb_cosine(spark, sf_dir)
    unit = F.transform(
        F.col("emb"), lambda x: x / F.sqrt(_dot(F.col("emb"), F.col("emb")))
    )
    quant = emb.select("vec_id", _sq8(unit).alias("qcode"))
    q = quant.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("qcode").alias("qv")
    )
    idot = F.aggregate(
        F.zip_with(F.col("qcode"), F.col("qv"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = quant.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(idot / F.lit(SQ8_LEVELS * SQ8_LEVELS), 4).alias("approx_cosine"),
    )
    return scored.orderBy(
        F.col("approx_cosine").desc(), F.col("vec_id")
    ).limit(TOP_K)


SIM_SQ8_ORACLE = f"""
WITH unit AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                 y -> y * y)))) AS u
  FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
),
quant AS (
  SELECT vec_id,
         list_transform(u, x -> CAST(floor({SQ8_LEVELS} * x + 0.5) AS INTEGER)) AS qcode
  FROM unit
)
SELECT a.vec_id,
       ROUND(list_sum(list_transform(range(1, len(a.qcode) + 1),
               i -> CAST(a.qcode[i] AS BIGINT) * q.qcode[i]))
             * 1.0 / {SQ8_LEVELS * SQ8_LEVELS}, 4) AS approx_cosine
FROM quant a, (SELECT qcode FROM quant WHERE vec_id = {QUERY_VEC_ID}) q
ORDER BY approx_cosine DESC, a.vec_id
LIMIT {TOP_K}
"""


# --------------------------------------------------------------------------
# Product quantization (PQ/ADC): the standard rung ABOVE SQ8 on the
# ANN compression ladder — 64 float64 dims become PQ_M single-byte
# codes (64×8 B → 32×1 B: 16× smaller than float64), and query scoring never
# reconstructs a vector: the query precomputes a PQ_M×PQ_K lookup
# table of partial dots against each sub-codebook and every corpus
# vector's score is PQ_M table lookups + adds (the Asymmetric
# Distance Computation of Jégou et al. 2011).
#
# Oracle-backed since r11 (previously rows-only on PQ_M MLlib KMeans
# fits): the sub-quantizer codebooks now fit with the same exact
# integer-Lloyd recipe as the IVF family — ALL PQ_M subspaces in ONE
# distributed pass per round, not PQ_M sequential fits.  The one new
# trick is the NORMALIZATION: u = x/||x|| depends on a float sum whose
# cross-engine portability we never rely on; instead the unit vector
# is derived from the already-exact quantized integers —
# n2 = Σ e_d² (exact int64), u_d = floor(e_d·1e6 / sqrt(n2) + 0.5) —
# so every float op is a single correctly-rounded IEEE op on identical
# integer inputs and the quantized unit vector is engine-exact by
# construction, with no dependence on summation order.
#: r13 resolution bump (16 → 32 subspaces, so 2 dims per sub-code):
#: the r13 ladder sweeps localized the sf0.1 recall ceiling to PQ code
#: resolution (nprobe and Lloyd budget both measured flat), and
#: halving the subspace width raised recall@20 vs exact at EVERY
#: (SF, tier) point at comparable runtime — pq .65/.70/.55 →
#: .80/.80/.70, composed IVFPQ .40/.70/.45 → .55/.75/.60, residual
#: IVFADC .50/.75/.45 → .55/.80/.65 (sf0.001/0.01/0.1) — and made
#: residual ≥ no-residual at every SF at the default nprobe.  Codes
#: stay 1-byte-range (PQ_K=16), so the serving-size claim only moves
#: 32× → 16× smaller than float64 per vector while recall jumps.
PQ_M = 32  # subspaces (64 dims → 2 per subspace)
PQ_K = 16  # codes per sub-codebook
PQ_SUBDIM = 64 // PQ_M
if PQ_M * PQ_SUBDIM != 64:
    # a non-divisor PQ_M would silently truncate the trailing dims out
    # of every subspace slice (Spark slice and DuckDB list slice both
    # just stop short) — fail at import, not with quietly-wrong codes
    raise ValueError(f"PQ_M={PQ_M} must divide the 64 embedding dims")
#: Lloyd rounds for the sub-quantizer fits.  4 (vs the IVF tier's 6):
#: low-dim sub-codebooks converge in 2-3 rounds on this corpus, extra
#: rounds measured NO recall gain (vec_id-seeded control at the r11
#: 16×4 setting: 6 rounds read 0.40 vs 4 rounds' 0.45 at sf0.001 —
#: drift, not improvement; the r13 sweep re-confirmed at 4/8/12
#: rounds, residual flat 0.45 at sf0.1 full probe), and each extra
#: round adds 2 CTEs to the oracle chain.
PQ_INT_ITERS = 4


def _unit_quantize_py(e: list[int]) -> list[int] | None:
    """Driver twin of _pq_unit_quantized's per-row math — the same
    IEEE op sequence ((x·1e6)/sqrt(n2), +0.5, floor; each step a
    single correctly-rounded double op, n2 < 2^53 so the int→double
    casts are exact) the _unit_centroids helper already mirrors.
    Returns None for a zero-norm vector — the row _pq_unit_quantized
    drops.  Used to derive the query's unit vector from the coarse
    tier's already-fetched qrow instead of paying a second
    one-row-first() driver job per serving query (r14)."""
    import math

    n2 = sum(v * v for v in e)
    if n2 <= 0:
        return None
    s = math.sqrt(float(n2))
    return [int(math.floor(float(v) * 1000000.0 / s + 0.5)) for v in e]


def _pq_unit_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, u bigint[]) — the 6dp-quantized UNIT vector, computed
    integer-first (see the section note): quantize the raw embedding,
    take the exact integer norm, then quantize e/||e|| in one
    correctly-rounded float expression both engines spell identically."""
    eq = _int_quantized(spark, sf_dir)
    n2 = F.aggregate(
        "e", F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    return (
        eq.select("vec_id", "e", n2.alias("n2"))
        .where(F.col("n2") > 0)
        .select(
            "vec_id",
            F.transform(
                "e",
                lambda x: F.floor(
                    x.cast("double")
                    * F.lit(1000000.0)
                    / F.sqrt(F.col("n2").cast("double"))
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("u"),
        )
    )


def _rpq_adc_sum(
    cents: dict[tuple[int, int, int], list[int]],
    qu: list[int],
    cunit: dict[int, list[int]],
):
    """Fused encode + ADC sum (r15, guide §4): a pandas UDF (cell, u) →
    dot(qu, cunit[cell]) + Σ_j pdot[cell, j, nearest code_j] of the
    residual r = u − cunit[cell].  It replaces the broadcast centroid
    join → 32×-row subspace explode → per-(cell, j) assignment UDF →
    broadcast lookup-table join → groupBy(vec_id) SUM → offset join of
    the un-fused form: one Python boundary crossing, one row per
    vector, no exchange.  The query-side lookup table pdot (exact
    partial dots of the query subvector against each sub-centroid) and
    the per-cell offsets are built here from the query unit vector qu,
    as model-sized closure constants.  The shared-codebook tiers pass
    cunit = {0: zero vector} and score with cell 0, so r = u and the
    offset is 0.  Same integers as the spec in tests/pq_spec.py:
    argmin ties to the smallest code id, int64 throughout (residual
    coords ≤ ~2.2e6, |total| ≤ ~2.3e14 ≪ 2⁶³).  Callers pre-filter to
    cells that have a codebook; an uncovered cell raises ValueError."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    books, book = _pq_codebooks(cents)
    q = np.asarray(qu, dtype=np.int64)
    pdot = {
        (cell, j): b[1] @ q[j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]
        for (cell, j), b in books.items()
    }
    cu = {c: np.asarray(v, dtype=np.int64) for c, v in cunit.items()}
    off = {c: int(v @ q) for c, v in cu.items()}

    @pandas_udf(LongType())
    def adc(cells, us):
        if not len(us):
            return pd.Series([], dtype="int64")
        U = np.vstack(us.to_numpy()).astype(np.int64)
        cl = cells.to_numpy().astype(np.int64)
        total = np.zeros(len(us), dtype=np.int64)
        for cell in np.unique(cl).tolist():
            cbooks = [book(cell, j) for j in range(PQ_M)]
            idx = np.flatnonzero(cl == cell)
            R = U[idx] - cu[cell][None, :]
            t = np.full(len(idx), off[cell], dtype=np.int64)
            for j, (_, C, cn2) in enumerate(cbooks):
                E = R[:, j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]
                score = -2 * (E @ C.T) + cn2[None, :]
                t += pdot[(cell, j)][np.argmin(score, axis=1)]
            total[idx] = t
        return pd.Series(total)

    return adc


def _rpq_int_fit(
    train: DataFrame,
) -> dict[tuple[int, int, int], list[int]]:
    """PQ_INT_ITERS rounds of joint integer Lloyd over per-cell
    sub-codebooks, keyed (cell, j, code).  `train` is either residuals
    (vec_id, cell, r), for the IVFADC tier, or unit vectors (vec_id,
    u), for the shared-codebook tiers: those fit one cell 0 whose
    centroid is zero, so r = u (IVFADC with a single coarse cell).

    Seeds: within each cell, the (residual) vectors of the PQ_K train
    vec_ids that sort FIRST BY md5(vec_id) — an engine-reproducible
    pseudo-random draw, NOT the IVF tier's first-by-vec_id recipe.
    Low-dim sub-codebooks are far more seed-sensitive than 64-dim
    cells: the lowest vec_ids' subvectors cluster in quantized space,
    and seeding from them measured recall@20 0.45/0.65/0.20 at
    sf0.001/0.01/0.1 (gate-trained, 4 rounds, at the r11 16×4
    setting) vs 0.65/0.70/0.55 for the md5-ordered draw.  The same
    PQ_K vectors seed every subspace of their cell (the oracles'
    ROW_NUMBER per j, or per (cell, j), reproduces this).  Residuals
    draw with a ROW_NUMBER window per cell; the one-cell fit draws
    the same vectors with orderBy(md5).limit, one driver job fewer.

    Per round: one fused assign + partial-sum pass (_rpq_round_sums);
    driver traffic is the |cells|·PQ_M·PQ_K·PQ_SUBDIM-int codebook —
    model-sized.  Codes that lose all members vanish (the oracles'
    GROUP BY does the same)."""
    md5 = F.md5(F.col("vec_id").cast("string"))
    if "cell" in train.columns:
        # materialize the residual table ONCE (r15): the seed window
        # plus every fused round below consumes it — without the
        # barrier each of those 1 + PQ_INT_ITERS jobs re-runs the
        # assignment/centroid joins in its lineage (guide §5).  The
        # one-cell train slice is a cheap filter over the caller's
        # materialized uq and needs no barrier.
        train = train.localCheckpoint(eager=False)
        n_cells = IVF_CELLS
        rn = F.row_number().over(Window.partitionBy("cell").orderBy(md5))
        seed = [
            (row["cell"], row["rn"] - 1, row["r"])
            for row in train.withColumn("rn", rn)
            .where(F.col("rn") <= PQ_K)
            .select("cell", "rn", "r")
            .take(IVF_CELLS * PQ_K)
        ]
    else:
        train = train.select(
            "vec_id", F.lit(0).alias("cell"), F.col("u").alias("r")
        )
        n_cells = 1
        seed = [
            (0, code, row["r"])
            for code, row in enumerate(
                train.orderBy(md5).limit(PQ_K).select("r").take(PQ_K)
            )
        ]
    cents = {
        (cell, j, code): [
            int(v) for v in r[j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]
        ]
        for cell, code, r in seed
        for j in range(PQ_M)
    }
    if not cents:
        return {}
    for _ in range(PQ_INT_ITERS):
        rows = _rpq_round_sums(train, cents).take(n_cells * PQ_M * PQ_K)
        cents = {
            (int(r["cell"]), int(r["j"]), int(r["code"])): _dims_of(
                r, PQ_SUBDIM
            )
            for r in rows
        }
    return cents


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed approximate cosine top-k (ADC scoring), with the
    integer-Lloyd sub-quantizer fit — oracle-checked END-TO-END since
    r11, codebooks included; recall vs the exact baseline stays
    asserted in tests/test_llm_pipeline.py.

    Scale notes: the fit trains on the ~50% md5 sample in ONE
    distributed pass per round covering all PQ_M subspaces (driver
    holds only the PQ_M×PQ_K×PQ_SUBDIM-int codebook, never data);
    encoding is one Arrow-batched integer GEMM over the corpus; the
    serving scan reads 1-byte-range codes instead of 8-byte doubles
    and scores each vector with PQ_M lookup-adds into the query's
    (j, code)→partial-dot table — no vector reconstruction.
    Normalizing first makes the approximate inner product an
    approximate cosine (score/1e12 ≈ cosine on the 6dp-quantized unit
    vectors)."""
    # materialized once: the fit's seed draw, the query-row fetch, and
    # the full-corpus encode below all re-derive uq otherwise (§5)
    uq = _pq_unit_quantized(spark, sf_dir).localCheckpoint(eager=False)
    cents = _rpq_int_fit(uq.where(_int_train_gate()))
    empty = "vec_id bigint, approx_cosine double"
    if not cents:
        return spark.createDataFrame([], empty)
    q = uq.where(F.col("vec_id") == QUERY_VEC_ID).first()
    if q is None:
        # cosine against a directionless query is undefined — empty
        # result, same schema
        return spark.createDataFrame([], empty)
    qu = [int(v) for v in q["u"]]
    # fused encode+ADC with the shared codebook: the fit's one cell 0,
    # whose centroid is zero (see _rpq_adc_sum)
    adc = _rpq_adc_sum(cents, qu, {0: [0] * _EMB_DIM})
    return (
        uq.select("vec_id", adc(F.lit(0), "u").alias("s"))
        .select(
            "vec_id",
            F.round(
                F.col("s").cast("double") / F.lit(1000000000000.0), 4
            ).alias("approx_cosine"),
        )
        .orderBy(F.col("approx_cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def _pq_chain_ctes(p: str = "") -> list[str]:
    """The PQ oracle chain — quantized unit vectors, subspace explode,
    PQ_INT_ITERS joint Lloyd rounds unrolled as chained MATERIALIZED
    CTEs, final full-corpus encoding, and the query-side ADC lookup
    table — every quantity in the same exact integer arithmetic as the
    Spark op.  Every CTE name carries prefix `p` so the composed
    IVF+PQ twin can splice this chain and the IVF chain (which owns
    the unprefixed tr/c*/a*/afin/qx names) into one WITH clause."""
    dist2 = (
        "CAST(list_sum(list_transform(range(1, len(v.sub) + 1),"
        " d -> (v.sub[d] - c.c[d]) * (v.sub[d] - c.c[d]))) AS BIGINT)"
    )
    trunc_div = _TRUNC_DIV.replace(" DIV ", " // ")
    ctes = [
        f"""{p}eq0 AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(floor(x * {LSH_Q_SCALE}.0 + 0.5) AS BIGINT)) AS e
  FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
)""",
        f"""{p}un AS MATERIALIZED (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(
             CAST(x AS DOUBLE) * 1000000.0 / sqrt(CAST(n2 AS DOUBLE))
             + 0.5) AS BIGINT)) AS u
  FROM (
    SELECT vec_id, e,
           CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS n2
    FROM {p}eq0
  )
  WHERE n2 > 0
)""",
        f"""{p}subq AS MATERIALIZED (
  SELECT vec_id, j, u[j * {PQ_SUBDIM} + 1 : (j + 1) * {PQ_SUBDIM}] AS sub
  FROM {p}un, (SELECT UNNEST(range(0, {PQ_M})) AS j)
)""",
        f"{p}tr AS MATERIALIZED (SELECT vec_id, j, sub FROM {p}subq WHERE "
        + _INT_TRAIN_GATE_DUCK
        + ")",
        f"""{p}c0 AS (
  SELECT j, CAST(rn - 1 AS INTEGER) AS code, sub AS c
  FROM (
    SELECT j, sub,
           ROW_NUMBER() OVER (
             PARTITION BY j ORDER BY md5(CAST(vec_id AS VARCHAR))
           ) AS rn
    FROM {p}tr
  ) WHERE rn <= {PQ_K}
)""",
    ]
    for i in range(1, PQ_INT_ITERS + 1):
        ctes.append(
            f"""{p}a{i} AS MATERIALIZED (
  SELECT vec_id, j, FIRST(code ORDER BY dist2, code) AS code
  FROM (
    SELECT v.vec_id, v.j, c.code, {dist2} AS dist2
    FROM {p}tr v JOIN {p}c{i - 1} c ON v.j = c.j
  ) GROUP BY vec_id, j
)"""
        )
        ctes.append(
            f"""{p}c{i} AS MATERIALIZED (
  SELECT j, code,
         list(CAST({trunc_div} AS BIGINT) ORDER BY dim) AS c
  FROM (
    SELECT a.j, a.code, x.dim, SUM(x.v) AS s, COUNT(*) AS n
    FROM (SELECT vec_id, j, UNNEST(sub) AS v,
                 UNNEST(range(1, len(sub) + 1)) AS dim FROM {p}tr) x
    JOIN {p}a{i} a ON x.vec_id = a.vec_id AND x.j = a.j
    GROUP BY a.j, a.code, x.dim
  ) GROUP BY j, code
)"""
        )
    cn = f"{p}c{PQ_INT_ITERS}"
    ctes.append(
        f"""{p}afin AS MATERIALIZED (
  SELECT vec_id, j, FIRST(code ORDER BY dist2, code) AS code
  FROM (
    SELECT v.vec_id, v.j, c.code, {dist2} AS dist2
    FROM {p}subq v JOIN {cn} c ON v.j = c.j
  ) GROUP BY vec_id, j
)"""
    )
    ctes.append(
        f"{p}qx AS (SELECT j, sub AS qsub FROM {p}subq"
        f" WHERE vec_id = {QUERY_VEC_ID})"
    )
    ctes.append(
        f"""{p}lut AS (
  SELECT c.j, c.code,
         CAST(list_sum(list_transform(range(1, len(c.c) + 1),
             d -> q.qsub[d] * c.c[d])) AS BIGINT) AS pdot
  FROM {cn} c JOIN {p}qx q ON c.j = q.j
)"""
    )
    return ctes


def _pq_int_oracle() -> str:
    """DuckDB twin of sim_pq_topk: the PQ chain + ADC scoring."""
    return (
        "WITH " + ",\n".join(_pq_chain_ctes()) + f"""
SELECT a.vec_id,
       ROUND(CAST(SUM(l.pdot) AS DOUBLE) / 1000000000000.0, 4)
         AS approx_cosine
FROM afin a
JOIN lut l ON a.j = l.j AND a.code = l.code
GROUP BY a.vec_id
ORDER BY approx_cosine DESC, a.vec_id
LIMIT {TOP_K}
"""
    )


SIM_PQ_ORACLE = _pq_int_oracle()


# --------------------------------------------------------------------------
def sim_ivf_pq_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """IVF+PQ composed — the production ANN index shape (FAISS IVFPQ,
    Jégou et al. 2011; the no-residual flavor: codes quantize the unit
    vectors themselves, not per-cell residuals): the integer-Lloyd
    coarse quantizer picks IVF_NPROBE cells for the query, and every
    candidate inside them is scored by PQ-ADC lookup-adds — so a query
    touches nprobe/k of the corpus AND reads only 1-byte-range codes
    instead of 8-byte doubles, the two cost multipliers production
    serving stacks compound.  Both fits are the oracle-checked integer
    machinery above (coarse: sim_ivf_topk's codebook; fine:
    sim_pq_topk's sub-codebooks), so the COMPOSITION is oracle-checked
    end-to-end too.  Measured recall@20 vs exact at the r13 32×2
    setting: 0.55 / 0.75 / 0.60 at sf0.001/0.01/0.1 (the r11 16×4
    setting read 0.40 / 0.70 / 0.45) — at or below the weaker of the
    pure-IVF and pure-PQ tiers, as expected when both approximations
    stack.  The r13 nprobe ladder (full table + analysis in
    sim_ivfpq_residual_topk's docstring, measured at 16×4) found this
    tier probe-bound at sf0.1 — climbing 0.45→0.50→0.55 over nprobe
    4/8/16 — and the resolution bump that followed moved every point
    up at the default nprobe.

    Scale: production builds persist the full code table once; this
    query's encode stage runs only over the probed slice (same result
    — per-vector encoding is independent — but the measured cost
    reflects serving, not index build).  Residual encoding is the
    documented next knob: it needs per-cell sub-codebooks (k× the
    model) and buys recall at high k."""
    assigned, cents, qrow = _ivf_int_build(spark, sf_dir)
    empty = "vec_id bigint, cell int, approx_cosine double"
    if not cents or qrow is None:
        return spark.createDataFrame([], empty)
    probe = _int_probe_order([int(v) for v in qrow["e"]], cents)[:nprobe]
    # cand is two cheap filters over the MATERIALIZED assignment now —
    # its former localCheckpoint guarded a deep unmaterialized lineage
    # and became a pure extra driver job once _ivf_int_build grew its
    # own barrier (r14)
    cand = assigned.where(F.col("cell").isin(probe)).select(
        "vec_id", "cell"
    )
    # materialized once, like sim_pq_topk's (fit seed + probed-slice
    # encode both consume it)
    uq = _pq_unit_quantized(spark, sf_dir).localCheckpoint(eager=False)
    pq_cents = _rpq_int_fit(uq.where(_int_train_gate()))
    if not pq_cents:
        return spark.createDataFrame([], empty)
    # the query's unit vector derives from the coarse qrow already in
    # hand — same integers as the dropped uq.where(vec_id=...).first()
    # (see _unit_quantize_py), one driver job fewer
    qu = _unit_quantize_py([int(v) for v in qrow["e"]])
    if qu is None:
        return spark.createDataFrame([], empty)
    # fused encode+ADC over the probed slice (r15): the cand join
    # carries the IVF cell through to the output, so the old
    # post-aggregation join-back disappears along with the explode +
    # LUT join + groupBy exchange.  The codebook is shared across IVF
    # cells — the fit's one zero-centroid cell 0 — so the kernel
    # scores with a literal 0, not the IVF cell.
    adc = _rpq_adc_sum(pq_cents, qu, {0: [0] * _EMB_DIM})
    return (
        uq.join(cand, "vec_id")
        .select("vec_id", "cell", adc(F.lit(0), "u").alias("s"))
        .select(
            "vec_id",
            "cell",
            F.round(
                F.col("s").cast("double") / F.lit(1000000000000.0), 4
            ).alias("approx_cosine"),
        )
        .orderBy(F.col("approx_cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def _ivf_pq_oracle() -> str:
    """DuckDB twin of sim_ivf_pq_topk: the IVF chain (unprefixed
    names) supplies the probe set and cell assignment, the PQ chain
    (p_ prefix) supplies codes and the ADC lookup table, and the final
    select composes them exactly as the Spark op does."""
    ctes = _ivf_chain_ctes(full_train=False)
    ctes.append(
        f"""probe AS (
  SELECT cell FROM pk
  ORDER BY {_PROBE_KEY_SQL} DESC, cell
  LIMIT {IVF_NPROBE}
)"""
    )
    ctes += _pq_chain_ctes("p_")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT a.vec_id, f.cell,
       ROUND(CAST(SUM(l.pdot) AS DOUBLE) / 1000000000000.0, 4)
         AS approx_cosine
FROM afin f
JOIN p_afin a ON f.vec_id = a.vec_id
JOIN p_lut l ON a.j = l.j AND a.code = l.code
WHERE f.cell IN (SELECT cell FROM probe)
GROUP BY a.vec_id, f.cell
ORDER BY approx_cosine DESC, a.vec_id
LIMIT {TOP_K}
"""
    )


SIM_IVF_PQ_ORACLE = _ivf_pq_oracle()


# --------------------------------------------------------------------------
# Residual-encoding IVF+PQ (r12 — the knob the r11 IVFPQ docstring
# documented as next): the full Jégou et al. 2011 IVFADC shape.  The
# no-residual tier above quantizes the unit vectors themselves, so all
# PQ_K sub-codes per subspace must cover the WHOLE sphere; here each
# vector is decomposed as u = cunit(cell) + r, the per-cell
# sub-codebooks quantize only the residual r — a far smaller, roughly
# centered domain — and the ADC score adds a per-cell offset
# dot(q, cunit) to the residual lookup-adds.  Cost: k× the model
# (IVF_CELLS × PQ_M × PQ_K sub-centroids ≈ 16·32·16·2 ints — still
# model-sized) for recall the shared codebook can't reach once cells
# are tight.
#
# Exactness: cunit is the coarse centroid unit-quantized by the SAME
# floor(x·1e6/sqrt(n2) + 0.5) recipe as the vectors (each step a
# single correctly-rounded IEEE op both engines repeat verbatim), so
# residuals, codebooks, lookup tables, and the final scaled score are
# all exact integers until the one final ROUND.


def _unit_centroids(cents: dict[int, list[int]]) -> dict[int, list[int]]:
    """Unit-quantize the coarse codebook into the residual basis —
    driver math on k·dim ints; a zero-norm centroid (possible only on
    degenerate corpora) maps to the zero vector so its residuals are
    the unit vectors themselves, exactly as the oracle's CASE does."""
    import math

    out: dict[int, list[int]] = {}
    for cell, c in cents.items():
        n2 = sum(x * x for x in c)
        if n2 == 0:
            out[cell] = [0] * len(c)
        else:
            s = math.sqrt(float(n2))
            out[cell] = [
                int(math.floor(x * 1000000.0 / s + 0.5)) for x in c
            ]
    return out


def _rpq_residuals(
    uq: DataFrame, assigned: DataFrame, cunit: dict[int, list[int]]
) -> DataFrame:
    """(vec_id, cell, r bigint[64]) — unit vector minus its cell's
    unit-quantized centroid.  The centroid table is model-sized and
    broadcast; the subtraction is one zip_with per row."""
    spark = uq.sparkSession
    cu_df = spark.createDataFrame(
        [(cell, v) for cell, v in sorted(cunit.items())],
        "cell int, cu array<bigint>",
    )
    return (
        uq.join(assigned.select("vec_id", "cell"), "vec_id")
        .join(F.broadcast(cu_df), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with("u", "cu", lambda a, b: a - b).alias("r"),
        )
    )


def sim_ivfpq_residual_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """Residual IVFADC serving: coarse probe → per-cell residual PQ
    codes → ADC score = per-cell offset dot(q, cunit) + PQ_M residual
    lookup-adds.  Measured recall@20 vs exact at sf0.001/0.01/0.1,
    r13 32×2 setting: 0.55 / 0.80 / 0.65 vs the no-residual tier's
    0.55 / 0.75 / 0.60 — residual ≥ no-residual at EVERY SF at the
    default nprobe (at the r11 16×4 setting it read 0.50/0.75/0.45
    vs 0.40/0.70/0.45, tying at sf0.1; the ladder analysis below is
    what localized that tie and motivated the resolution bump).

    nprobe ladder (measured 2026-08-16, r13, at the then-current
    16×4 setting — r12 verdict item 4; recall values are
    deterministic integer math, latency was a loaded-machine single
    shot and is recorded only as shape):

        recall@20        nprobe=4   nprobe=8   nprobe=16 (=IVF_CELLS)
        sf0.001 residual   0.50       0.70       0.75
        sf0.001 ivfpq      0.40       0.60       0.65
        sf0.01  residual   0.75       0.75       0.75
        sf0.01  ivfpq      0.70       0.70       0.70
        sf0.1   residual   0.45       0.45       0.45
        sf0.1   ivfpq      0.45       0.50       0.55

    This CORRECTS the r12 hypothesis that the sf0.1 tie was the
    coarse probe binding: at nprobe=16 the probe covers every cell
    (the candidate set is the whole corpus) and the residual tier
    still reads 0.45, so at sf0.1 the binding constraint is the
    residual QUANTIZER, not the probe.  A follow-up iteration-budget
    sweep (same day) rules out fit convergence too: at nprobe=16,
    PQ_INT_ITERS ∈ {4, 8, 12} leaves residual recall flat at 0.45
    (and moves the shared-codebook tier 0.55/0.40/0.40 — more Lloyd
    is not monotone for the single evaluation query either), so the
    binding constraint is the code RESOLUTION itself — PQ_M=16
    4-dim subspaces × PQ_K=16 codes at sf0.1's corpus density —
    with the caveat that recall@20 of the one fixed query vector
    moves in 0.05 steps, so single-step differences are near the
    metric's granularity.  Residual wins where cells are small
    (sf0.001/0.01, every nprobe); at sf0.1 the shared-codebook tier
    edges it at high nprobe.  IVF_NPROBE stays 4: the benched
    serving claim is the nprobe/k corpus-fraction shape, nprobe is a
    serving-time dial deployments read off this table, and bumping
    the default would not move sf0.1 residual recall at all (flat
    curve) while growing every probed-slice encode ~nprobe-fold.
    PQ_INT_ITERS stays 4 likewise: the sweep shows extra rounds buy
    no recall at any measured point while the fit cost (inside the
    benched query) grows ~linearly with rounds (24.6→35.5 s
    measured at 12 iters, loaded machine).  ACTED ON (r13, same
    day): what the ladders localized, the resolution bump fixed —
    PQ_M 16→32 (2-dim sub-codes, same 1-byte code range, same
    16384-int IVFADC model size) raised recall at every (SF, tier)
    point at comparable runtime; see the PQ_M constant's note for
    the full before/after matrix.

    Scale: identical serving shape to sim_ivf_pq_topk (nprobe/k corpus
    fraction × 1-byte codes) plus one broadcast model-sized centroid
    table for the residual subtraction; the fit adds a cell dimension
    to every aggregation key but no new shuffle.  Production persists
    the code table; the encode here runs only over the probed slice
    (per-vector encoding is independent, so the result is identical)."""
    assigned, cents, qrow = _ivf_int_build(spark, sf_dir)
    empty = "vec_id bigint, cell int, approx_cosine double"
    if not cents or qrow is None:
        return spark.createDataFrame([], empty)
    cunit = _unit_centroids(cents)
    # materialized once (fit seed window + residual joins + query
    # fetch + final probed-slice encode all consume it)
    uq = _pq_unit_quantized(spark, sf_dir).localCheckpoint(eager=False)
    res_train = _rpq_residuals(
        uq.where(_int_train_gate()), assigned, cunit
    )
    rcents = _rpq_int_fit(res_train)
    if not rcents:
        return spark.createDataFrame([], empty)
    # query unit vector from the coarse qrow in hand (same integers as
    # the dropped one-row first() — see _unit_quantize_py)
    qu = _unit_quantize_py([int(v) for v in qrow["e"]])
    if qu is None:
        return spark.createDataFrame([], empty)
    probe = _int_probe_order([int(v) for v in qrow["e"]], cents)[
        :nprobe
    ]
    covered = {cell for cell, _, _ in rcents}
    # a cheap filter over the materialized assignment (the former
    # localCheckpoint here predates _ivf_int_build's barrier — r14)
    cand = assigned.where(
        F.col("cell").isin([c for c in probe if c in covered])
    ).select("vec_id", "cell")
    # the cand join carries the assignment's cell, so the kernel's
    # residual subtraction reads the same per-row centroid the old
    # _rpq_residuals broadcast join attached; the kernel builds the
    # query's lookup table and per-cell offsets from qu
    radc = _rpq_adc_sum(rcents, qu, cunit)
    return (
        uq.join(cand, "vec_id")
        .select("vec_id", "cell", radc("cell", "u").alias("t"))
        .select(
            "vec_id",
            "cell",
            F.round(
                F.col("t").cast("double") / F.lit(1000000000000.0),
                4,
            ).alias("approx_cosine"),
        )
        .orderBy(F.col("approx_cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def _rpq_chain_ctes() -> list[str]:
    """The residual-PQ oracle chain, spliced AFTER _ivf_chain_ctes
    (which owns qe0/tr/c*/afin/qx/qn/pk): unit vectors, unit-quantized
    centroids, residuals, per-cell seeds, PQ_INT_ITERS per-cell Lloyd
    rounds, full encoding, and the query-side lookup + offset tables —
    every key carries the cell, otherwise the sim_pq_topk chain
    verbatim."""
    cn = f"c{IVF_INT_ITERS}"
    dist2 = (
        "CAST(list_sum(list_transform(range(1, len(v.sub) + 1),"
        " d -> (v.sub[d] - c.c[d]) * (v.sub[d] - c.c[d]))) AS BIGINT)"
    )
    trunc_div = _TRUNC_DIV.replace(" DIV ", " // ")
    ctes = [
        """run AS MATERIALIZED (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(
             CAST(x AS DOUBLE) * 1000000.0 / sqrt(CAST(n2 AS DOUBLE))
             + 0.5) AS BIGINT)) AS u
  FROM (
    SELECT vec_id, e,
           CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS n2
    FROM qe0
  )
  WHERE n2 > 0
)""",
        f"""cu AS MATERIALIZED (
  SELECT cell,
         CASE WHEN n2 > 0 THEN
           list_transform(c, x -> CAST(floor(
               CAST(x AS DOUBLE) * 1000000.0 / sqrt(CAST(n2 AS DOUBLE))
               + 0.5) AS BIGINT))
         ELSE list_transform(c, x -> CAST(0 AS BIGINT)) END AS cu
  FROM (
    SELECT cell, c,
           CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS n2
    FROM {cn}
  )
)""",
        """res AS MATERIALIZED (
  SELECT u.vec_id, a.cell,
         list_transform(range(1, len(u.u) + 1),
                        d -> u.u[d] - cu.cu[d]) AS r
  FROM run u
  JOIN afin a ON u.vec_id = a.vec_id
  JOIN cu ON a.cell = cu.cell
)""",
        f"""rsub AS MATERIALIZED (
  SELECT vec_id, cell, j,
         r[j * {PQ_SUBDIM} + 1 : (j + 1) * {PQ_SUBDIM}] AS sub
  FROM res, (SELECT UNNEST(range(0, {PQ_M})) AS j)
)""",
        "rtr AS MATERIALIZED (SELECT vec_id, cell, j, sub FROM rsub WHERE "
        + _INT_TRAIN_GATE_DUCK
        + ")",
        f"""rc0 AS (
  SELECT cell, j, CAST(rn - 1 AS INTEGER) AS code, sub AS c
  FROM (
    SELECT cell, j, sub,
           ROW_NUMBER() OVER (
             PARTITION BY cell, j ORDER BY md5(CAST(vec_id AS VARCHAR))
           ) AS rn
    FROM rtr
  ) WHERE rn <= {PQ_K}
)""",
    ]
    for i in range(1, PQ_INT_ITERS + 1):
        ctes.append(
            f"""ra{i} AS MATERIALIZED (
  SELECT vec_id, cell, j, FIRST(code ORDER BY dist2, code) AS code
  FROM (
    SELECT v.vec_id, v.cell, v.j, c.code, {dist2} AS dist2
    FROM rtr v JOIN rc{i - 1} c ON v.cell = c.cell AND v.j = c.j
  ) GROUP BY vec_id, cell, j
)"""
        )
        ctes.append(
            f"""rc{i} AS MATERIALIZED (
  SELECT cell, j, code,
         list(CAST({trunc_div} AS BIGINT) ORDER BY dim) AS c
  FROM (
    SELECT a.cell, a.j, a.code, x.dim, SUM(x.v) AS s, COUNT(*) AS n
    FROM (SELECT vec_id, j, UNNEST(sub) AS v,
                 UNNEST(range(1, len(sub) + 1)) AS dim FROM rtr) x
    JOIN ra{i} a ON x.vec_id = a.vec_id AND x.j = a.j
    GROUP BY a.cell, a.j, a.code, x.dim
  ) GROUP BY cell, j, code
)"""
        )
    rcn = f"rc{PQ_INT_ITERS}"
    ctes.append(
        f"""rafin AS MATERIALIZED (
  SELECT vec_id, cell, j, FIRST(code ORDER BY dist2, code) AS code
  FROM (
    SELECT v.vec_id, v.cell, v.j, c.code, {dist2} AS dist2
    FROM rsub v JOIN {rcn} c ON v.cell = c.cell AND v.j = c.j
  ) GROUP BY vec_id, cell, j
)"""
    )
    ctes.append(
        f"rqu AS (SELECT u AS qu FROM run WHERE vec_id = {QUERY_VEC_ID})"
    )
    ctes.append(
        f"""rlut AS (
  SELECT c.cell, c.j, c.code,
         CAST(list_sum(list_transform(range(1, len(c.c) + 1),
             d -> q.qu[c.j * {PQ_SUBDIM} + d] * c.c[d])) AS BIGINT) AS pdot
  FROM {rcn} c CROSS JOIN rqu q
)"""
    )
    ctes.append(
        """roff AS (
  SELECT cu.cell,
         CAST(list_sum(list_transform(range(1, len(cu.cu) + 1),
             d -> q.qu[d] * cu.cu[d])) AS BIGINT) AS odot
  FROM cu CROSS JOIN rqu q
)"""
    )
    return ctes


def _ivfpq_residual_oracle() -> str:
    """DuckDB twin of sim_ivfpq_residual_topk: the IVF chain supplies
    cells + probe order, the residual chain supplies per-cell codes,
    lookups and offsets; the final select scores probed candidates as
    offset + Σ pdot.  rafin encodes the WHOLE corpus where the Spark
    op encodes only the probed slice — identical output because
    per-vector encoding is independent of the probe filter."""
    ctes = _ivf_chain_ctes(full_train=False)
    ctes.append(
        f"""probe AS (
  SELECT cell FROM pk
  ORDER BY {_PROBE_KEY_SQL} DESC, cell
  LIMIT {IVF_NPROBE}
)"""
    )
    ctes += _rpq_chain_ctes()
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT a.vec_id, a.cell,
       ROUND(CAST(o.odot + SUM(l.pdot) AS DOUBLE) / 1000000000000.0, 4)
         AS approx_cosine
FROM rafin a
JOIN rlut l ON a.cell = l.cell AND a.j = l.j AND a.code = l.code
JOIN roff o ON a.cell = o.cell
WHERE a.cell IN (SELECT cell FROM probe)
GROUP BY a.vec_id, a.cell, o.odot
ORDER BY approx_cosine DESC, a.vec_id
LIMIT {TOP_K}
"""
    )


SIM_IVFPQ_RESIDUAL_ORACLE = _ivfpq_residual_oracle()


# --------------------------------------------------------------------------
# Two-signal near-dup verdict: LEXICAL (word-3-gram Jaccard over
# documents.text) fused with SEMANTIC (embedding cosine) similarity —
# the cross-check large-corpus dedup pipelines run before dropping a
# pair, because each signal alone has a known blind spot (Jaccard
# misses paraphrases, cosine misses entity swaps in boilerplate).
# Pairs are classified 'both' / 'lexical_only' / 'semantic_only'; a
# curation policy typically auto-drops 'both' and queues the
# single-signal tiers for review.
#
# This is the EXACT tier of both signals (each already oracle-green on
# its own), so the fusion itself is oracle-checked; at 100 TB each
# side swaps in its sublinear candidate generator (MinHash-LSH for
# Jaccard, hyperplane-LSH/IVF for cosine — both implemented above /
# in dedup.py) and the fusion join is unchanged.  The join keys on
# (d1, d2) pair ids — both sides are sub-quadratic, DF-capped pair
# sets, so the full-outer join is linear in the pair count.  The
# embedding table indexes vectors by vec_id == doc_id (TESTDATA.md).
def dedup_semantic_fused_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with both similarity signals side by side:
    d1, d2, jaccard (null when below lexical threshold), cosine (null
    when below semantic threshold), and the fused verdict."""
    from .dedup import dedup_ngram_jaccard_pairs

    lex = dedup_ngram_jaccard_pairs(spark, sf_dir)
    sem = sim_cosine_dup_pairs(spark, sf_dir).select(
        F.col("v1").alias("d1"), F.col("v2").alias("d2"), "cosine"
    )
    return (
        lex.join(sem, ["d1", "d2"], "full_outer")
        .select(
            "d1",
            "d2",
            "jaccard",
            "cosine",
            F.when(
                F.col("jaccard").isNotNull() & F.col("cosine").isNotNull(),
                "both",
            )
            .when(F.col("jaccard").isNotNull(), "lexical_only")
            .otherwise("semantic_only")
            .alias("verdict"),
        )
        .orderBy("d1", "d2")
    )


def _fused_oracle() -> str:
    from .dedup import DEDUP_JACCARD_ORACLE

    return f"""
WITH lex AS ({DEDUP_JACCARD_ORACLE}),
sem AS ({SIM_DUP_ORACLE})
SELECT COALESCE(l.d1, s.v1) AS d1,
       COALESCE(l.d2, s.v2) AS d2,
       l.jaccard,
       s.cosine,
       CASE WHEN l.d1 IS NOT NULL AND s.v1 IS NOT NULL THEN 'both'
            WHEN l.d1 IS NOT NULL THEN 'lexical_only'
            ELSE 'semantic_only' END AS verdict
FROM lex l FULL OUTER JOIN sem s ON l.d1 = s.v1 AND l.d2 = s.v2
ORDER BY d1, d2
"""


SIM_FUSED_ORACLE = _fused_oracle()


# --------------------------------------------------------------------------
# One Lloyd iteration of KMeans, seeded from the per-label centroids —
# the distributed building block behind the IVF/PQ codebooks above,
# surfaced as its own auditable operator: assign every vector to its
# nearest seed centroid, recompute the centroids from the assignment,
# and report per-centroid membership, migration, and movement.
#
# Scale shape: centroids live at the (k × d) grain — always broadcast-
# sized — so assignment is a broadcast nested-loop over k candidates
# per vector (linear in corpus, the same shape sim_knn_top1 uses);
# both centroid computations are posexplode → (key, dim) hash-aggs, no
# driver collect, no iteration here (the full KMeans loop is this
# operator applied repeatedly, as the IVF builder does internally).
# Determinism: squared distance is a left-fold over the diff array in
# BOTH engines (F.aggregate ≡ list_dot_product order); argmin ties
# break on centroid label.  The centroid means themselves are
# QUANTIZED to a 1e-9 grid before any downstream use: F.avg over
# doubles carries partition-order noise (~1e-13 relative), and an
# unquantized mean feeding min_by lets a vector near-equidistant to
# two centroids flip its assignment across runs/engines.  Snapping to
# a grid 4 orders coarser than the noise makes dist2 a deterministic
# function of the data except when a mean lands within noise of a
# grid edge — vanishingly rarer than the near-tie it replaces.
def _q9(x):
    """floor(x*1e9+0.5)/1e9 — engine-agreed 9dp quantization for
    centroid coordinates (embedding values are O(1), so the scaled
    product stays far inside double-exact integer range)."""
    return F.floor(x * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)


def _seed_assigned(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared assignment stage (Lloyd step + SemDeDup): quantized
    label-seeded per-dim centroid means, and every vector's nearest-
    centroid assignment (broadcast probe, min_by argmin with label
    tiebreak).  Returns (per_dim, assigned).

    Zero-LENGTH embeddings are excluded (zero-NORM ones are kept —
    euclidean assignment is well-defined for them): Spark's zip_with
    null-pads the length mismatch against a 64-dim centroid and the
    distance folds to NULL, where DuckDB's range-based transform
    yields dist2 = 0 and assigns the row to the first label — an
    engine divergence on a row that carries no geometry.  The oracle
    CTE carries the same len(emb) > 0 predicate."""
    emb = _emb_double(spark, sf_dir).where(F.size("emb") > 0)
    per_dim = (
        emb.select("label", F.posexplode("emb").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(_q9(F.avg("v")).alias("mean_v"))
    )
    cents = (
        per_dim.groupBy("label")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(dim, mean_v))),"
                " x -> x.mean_v)"
            ).alias("c")
        )
        .select(F.col("label").alias("c_label"), "c")
    )
    diff = F.zip_with(F.col("emb"), F.col("c"), lambda x, y: x - y)
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "emb", "c_label", _dot(diff, diff).alias("dist2")
    )
    assigned = scored.groupBy("vec_id").agg(
        F.min_by("c_label", F.struct("dist2", "c_label")).alias("assigned"),
        F.first("label").alias("label"),
        F.first("emb").alias("emb"),
        # the assigned-centroid distance (min over centroids) — used
        # by sim_centroid_outliers; other consumers ignore it
        F.min("dist2").alias("dist2"),
    )
    return per_dim, assigned


def sim_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One KMeans assignment+update step from label-seeded centroids:
    per centroid, members assigned, members that migrated from another
    seed label, and the L2 movement of the recomputed centroid."""
    per_dim, assigned = _seed_assigned(spark, sf_dir)
    new_dim = (
        assigned.select("assigned", F.posexplode("emb").alias("dim", "v"))
        .groupBy("assigned", "dim")
        .agg(_q9(F.avg("v")).alias("new_v"))
    )
    move = (
        new_dim.join(
            per_dim,
            (per_dim.label == new_dim.assigned) & (per_dim.dim == new_dim.dim),
        )
        .groupBy("assigned")
        .agg(
            # floor recipe, not ROUND: quantized inputs make the sum
            # of squares an exact decimal, so sqrt CAN land on a
            # representable 4dp halfway value (e.g. movement exactly
            # 0.00005) where Spark's ROUND and DuckDB's disagree.
            _fr4(
                F.sqrt(F.sum((F.col("new_v") - F.col("mean_v")) ** 2))
            ).alias("movement")
        )
    )
    counts = assigned.groupBy("assigned").agg(
        F.count("*").alias("n_assigned"),
        F.sum((F.col("label") != F.col("assigned")).cast("long")).alias(
            "n_migrated"
        ),
    )
    return (
        counts.join(move, "assigned")
        .select(
            F.col("assigned").alias("centroid"),
            "n_assigned",
            "n_migrated",
            "movement",
        )
        .orderBy("centroid")
    )


#: shared CTE prefix: label-seeded quantized centroids + per-vector
#: nearest-centroid assignment — used verbatim by the Lloyd-step and
#: SemDeDup oracles so the two can never drift apart.
_ASSIGN_CTES = """e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE len(embedding) > 0
),
per_dim AS (
  SELECT label, dim, floor(AVG(v) * 1e9 + 0.5) / 1e9 AS mean_v
  FROM (
    SELECT label, UNNEST(emb) AS v, UNNEST(range(1, len(emb) + 1)) AS dim
    FROM e
  )
  GROUP BY label, dim
),
cents AS (
  SELECT label AS c_label, list(mean_v ORDER BY dim) AS c
  FROM per_dim GROUP BY label
),
scored AS (
  SELECT vec_id, label, emb, c_label,
         list_dot_product(
           list_transform(range(1, len(emb) + 1), i -> emb[i] - c[i]),
           list_transform(range(1, len(emb) + 1), i -> emb[i] - c[i])) AS dist2
  FROM e CROSS JOIN cents
),
assigned AS (
  SELECT vec_id,
         FIRST(c_label ORDER BY dist2, c_label) AS assigned,
         ANY_VALUE(label) AS label,
         ANY_VALUE(emb) AS emb,
         MIN(dist2) AS dist2
  FROM scored GROUP BY vec_id
)"""

SIM_LLOYD_ORACLE = f"""
WITH {_ASSIGN_CTES},
new_dim AS (
  SELECT assigned, dim, floor(AVG(v) * 1e9 + 0.5) / 1e9 AS new_v
  FROM (
    SELECT assigned, UNNEST(emb) AS v, UNNEST(range(1, len(emb) + 1)) AS dim
    FROM assigned
  )
  GROUP BY assigned, dim
),
move AS (
  SELECT n.assigned,
         floor(sqrt(SUM((n.new_v - p.mean_v) ^ 2)) * 1e4 + 0.5) / 1e4
           AS movement
  FROM new_dim n JOIN per_dim p ON p.label = n.assigned AND p.dim = n.dim
  GROUP BY n.assigned
),
counts AS (
  SELECT assigned, CAST(COUNT(*) AS BIGINT) AS n_assigned,
         CAST(SUM(CASE WHEN label <> assigned THEN 1 ELSE 0 END) AS BIGINT)
           AS n_migrated
  FROM assigned GROUP BY assigned
)
SELECT c.assigned AS centroid, n_assigned, n_migrated, movement
FROM counts c JOIN move m ON m.assigned = c.assigned
ORDER BY centroid
"""


# --------------------------------------------------------------------------
# Embedding-space outlier audit — the noise/poison screen a curation
# pipeline runs before trusting embedding-derived signals (SemDeDup,
# semantic decontamination, ANN retrieval): a vector sitting far from
# its assigned centroid is mis-embedded junk, an adversarial insert,
# or genuinely novel content — all worth surfacing.  Outlier rule is
# EXACT decimal arithmetic (dist2 quantized to DECIMAL(28,12), then
# dist2·n > factor·Σdist2 — no double division, so both engines agree
# on every boundary case).
#
# Scale shape: shares the broadcast centroid assignment with the
# Lloyd/SemDeDup stack (k×d grain), then one hash-agg to cluster
# stats and one join back on the cluster key — |clusters| rows on the
# build side, AQE broadcasts it.
OUTLIER_FACTOR = 2  # outlier ⇔ dist² > factor × cluster mean dist²


def sim_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per cluster: members, members whose squared centroid distance
    exceeds OUTLIER_FACTOR × the cluster mean, and the outlier share."""
    _, assigned = _seed_assigned(spark, sf_dir)
    per = assigned.select(
        "vec_id",
        "assigned",
        F.col("dist2").cast("decimal(28,12)").alias("d2"),
    )
    stats = per.groupBy("assigned").agg(
        F.count("*").alias("n_members"), F.sum("d2").alias("s2")
    )
    flagged = per.join(stats, "assigned").select(
        "assigned",
        "n_members",
        (
            F.col("d2") * F.col("n_members")
            > F.lit(OUTLIER_FACTOR) * F.col("s2")
        ).cast("long").alias("is_outlier"),
    )
    return (
        flagged.groupBy("assigned", "n_members")
        .agg(F.sum("is_outlier").alias("n_outliers"))
        .select(
            F.col("assigned").alias("cluster"),
            "n_members",
            "n_outliers",
            _fr4(F.col("n_outliers") / F.col("n_members")).alias(
                "outlier_share"
            ),
        )
        .orderBy("cluster")
    )


SIM_OUTLIERS_ORACLE = f"""
WITH {_ASSIGN_CTES},
per AS (
  SELECT vec_id, assigned, CAST(dist2 AS DECIMAL(28,12)) AS d2
  FROM assigned
),
stats AS (
  SELECT assigned, CAST(COUNT(*) AS BIGINT) AS n_members,
         SUM(d2) AS s2
  FROM per GROUP BY assigned
)
SELECT p.assigned AS cluster,
       s.n_members,
       CAST(SUM(CASE WHEN p.d2 * s.n_members > {OUTLIER_FACTOR} * s.s2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       floor(SUM(CASE WHEN p.d2 * s.n_members > {OUTLIER_FACTOR} * s.s2
                 THEN 1 ELSE 0 END) * 1.0 / s.n_members
             * 10000.0 + 0.5) / 10000.0 AS outlier_share
FROM per p JOIN stats s ON s.assigned = p.assigned
GROUP BY p.assigned, s.n_members
ORDER BY cluster
"""


# --------------------------------------------------------------------------
# Per-dimension embedding health profile — the encoder sanity check a
# pipeline runs before trusting any embedding-derived signal: a
# near-zero-variance ("dead") dimension means the encoder collapsed
# there (truncation bug, dtype clip, bad export), and it silently
# wastes index capacity in every downstream ANN structure.  One
# posexplode → per-dim hash-agg (64 output rows); moments quantized
# at 1e9 (the _q9 recipe) so partition-order double noise can't leak
# into the hash.
DEAD_DIM_VAR = 1e-6


def sim_dim_variance_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per embedding dimension: n, quantized mean and variance
    (E[x²] − E[x]², computed on the quantized moments — identical
    IEEE arithmetic in both engines), and the dead-dimension flag."""
    emb = _emb_double(spark, sf_dir).where(F.size("emb") > 0)
    per_dim = (
        emb.select(F.posexplode("emb").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            _q9(F.avg("v")).alias("mean_v"),
            _q9(F.avg(F.col("v") * F.col("v"))).alias("mean_sq"),
        )
    )
    var = F.col("mean_sq") - F.col("mean_v") * F.col("mean_v")
    return (
        per_dim.select(
            "dim",
            "n",
            "mean_v",
            var.alias("var_v"),
            (var < DEAD_DIM_VAR).alias("is_dead"),
        )
        .orderBy("dim")
    )


def sim_split_embedding_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension centroid shift between the hash-assigned train and
    val splits — the embedding-space audit that a split is i.i.d.: a
    material per-dimension shift flags selection bias in the split hash
    or upstream filtering.  Composes the pipeline split recipe (same
    SPLIT_SEED md5 buckets, keyed on vec_id) with the per-dimension
    moment scan of sim_dim_variance_profile.

    Scale shape: the r8 plan-reuse rule — train and val means come from
    ONE posexplode scan with conditional aggregates (filter folded into
    the agg), not two filtered branches; hash-agg on a 64-dim key
    space, no joins.  Zero vectors deliberately kept (means are
    well-defined; cf. _emb_cosine note)."""
    from ._splits import SPLIT_SEED, SPLIT_TRAIN_PCT, SPLIT_VAL_PCT

    emb = _emb_double(spark, sf_dir).where(F.size("emb") > 0)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.lit(SPLIT_SEED), "vec_id")), 1, 4
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
    is_tr = F.col("split") == "train"
    is_va = F.col("split") == "val"
    per = (
        emb.select(split.alias("split"), F.posexplode("emb").alias("dim", "v"))
        .where(F.col("split") != "test")
        .groupBy("dim")
        .agg(
            F.sum(is_tr.cast("long")).alias("n_train"),
            F.sum(is_va.cast("long")).alias("n_val"),
            _q9(F.avg(F.when(is_tr, F.col("v")))).alias("mean_train"),
            _q9(F.avg(F.when(is_va, F.col("v")))).alias("mean_val"),
        )
    )
    # difference of identically-quantized doubles: same IEEE arithmetic
    # in both engines, no re-quantization needed (cf. var_v above)
    return per.select(
        "dim",
        "n_train",
        "n_val",
        "mean_train",
        "mean_val",
        F.abs(F.col("mean_train") - F.col("mean_val")).alias("drift"),
    ).orderBy("dim")


def _split_drift_oracle() -> str:
    from ._splits import SPLIT_SEED, SPLIT_TRAIN_PCT, SPLIT_VAL_PCT

    b = (
        f"CAST(concat('0x', substring(md5({SPLIT_SEED} || '_' || vec_id), "
        "1, 4)) AS INTEGER) % 100"
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE len(embedding) > 0
),
lab AS (
  SELECT CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN {b} < {SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         emb
  FROM e
),
x AS (
  SELECT split, dim - 1 AS dim, v FROM (
    SELECT split, UNNEST(emb) AS v, UNNEST(range(1, len(emb) + 1)) AS dim
    FROM lab
  )
  WHERE split <> 'test'
),
agg AS (
  SELECT CAST(dim AS INTEGER) AS dim,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_val,
         floor(AVG(CASE WHEN split = 'train' THEN v END) * 1e9 + 0.5) / 1e9
           AS mean_train,
         floor(AVG(CASE WHEN split = 'val' THEN v END) * 1e9 + 0.5) / 1e9
           AS mean_val
  FROM x
  GROUP BY dim
)
SELECT dim, n_train, n_val, mean_train, mean_val,
       abs(mean_train - mean_val) AS drift
FROM agg
ORDER BY dim
"""


SIM_SPLIT_DRIFT_ORACLE = _split_drift_oracle()


SIM_DIM_PROFILE_ORACLE = f"""
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE len(embedding) > 0
),
per_dim AS (
  SELECT dim - 1 AS dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         floor(AVG(v) * 1e9 + 0.5) / 1e9 AS mean_v,
         floor(AVG(v * v) * 1e9 + 0.5) / 1e9 AS mean_sq
  FROM (
    SELECT UNNEST(emb) AS v, UNNEST(range(1, len(emb) + 1)) AS dim
    FROM e
  )
  GROUP BY dim
)
SELECT CAST(dim AS INTEGER) AS dim, n, mean_v,
       mean_sq - mean_v * mean_v AS var_v,
       (mean_sq - mean_v * mean_v) < {DEAD_DIM_VAR} AS is_dead
FROM per_dim
ORDER BY dim
"""


# --------------------------------------------------------------------------
# One power-iteration step toward the dominant principal direction of
# the raw (uncentered) second-moment matrix — the distributed linear-
# algebra primitive behind PCA whitening / spectral embedding-quality
# audits, expressed without collecting the data: w = Σᵢ (xᵢ·v₀) xᵢ is
# one broadcast dot per row plus a posexplode → per-dim hash-agg, and
# the full PCA loop is this operator applied repeatedly (PageRank's
# shape, on vectors).  v₀ = e₀ (the first axis, deterministic seed).
# Determinism: per-dim sums are doubles (partition-order noise ~1e-13
# relative), rounded at 4dp like every other embedding aggregate.
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration update from the e₀ seed: per-dimension
    loading of the normalized new direction, with the Rayleigh-style
    eigenvalue estimate |w| (= v₀ᵀ M v₀ scale) repeated per row."""
    emb = _emb_double(spark, sf_dir).where(F.size("emb") > 0)
    # x·e0 is just the first coordinate — the general v0 would be a
    # broadcast array; e0 keeps the seed literal and engine-identical.
    # The size guard keeps emb[0] defined on a degenerate zero-length
    # row (ANSI array indexing throws; DuckDB would yield NULL).
    s = emb.select("vec_id", F.col("emb")[0].alias("s"), "emb")
    per_dim = (
        s.select(F.posexplode("emb").alias("dim", "x"), "s")
        .groupBy("dim")
        .agg(F.sum(F.col("s") * F.col("x")).alias("w"))
    )
    nrm = per_dim.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    return (
        per_dim.crossJoin(F.broadcast(nrm))
        # zero-norm guard (cf. the OLS x-variance guard): if every
        # x·e0 moment is 0 (dead first dimension corpus-wide), the
        # new direction has no norm and w/nrm is 0/0 — ANSI throws
        # where DuckDB yields NULL, so both engines emit zero rows
        .where(F.col("nrm") > 0)
        .select(
            "dim",
            # floor recipe (dedup._fr4 extended to signed loadings:
            # half-toward-+inf, mirrored in the oracle) instead of
            # ROUND — w/nrm is a ratio of finite decimals and can sit
            # exactly on a 4dp halfway value where the engines'
            # ROUND directions differ.
            _fr4(F.col("w") / F.col("nrm")).alias("loading"),
            _fr4(F.col("nrm")).alias("eigenvalue_est"),
        )
        .orderBy("dim")
    )


SIM_PCA_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE len(embedding) > 0
),
s AS (SELECT vec_id, emb[1] AS s, emb FROM e),
per_dim AS (
  SELECT dim - 1 AS dim, SUM(s * x) AS w
  FROM (
    SELECT s, UNNEST(emb) AS x, UNNEST(range(1, len(emb) + 1)) AS dim
    FROM s
  )
  GROUP BY dim
),
nrm AS (SELECT sqrt(SUM(w * w)) AS nrm FROM per_dim)
SELECT dim,
       floor(w / nrm * 1e4 + 0.5) / 1e4 AS loading,
       floor(nrm * 1e4 + 0.5) / 1e4 AS eigenvalue_est
FROM per_dim CROSS JOIN nrm
WHERE nrm > 0
ORDER BY dim
"""


# --------------------------------------------------------------------------
# Semantic decontamination — the embedding-space twin of the n-gram
# decontamination check (dedup.dedup_decontaminate): a training vector
# whose embedding sits too close to ANY benchmark vector is flagged
# even when zero n-grams overlap (paraphrased eval leakage, which the
# lexical check cannot see).  Membership reuses the same deterministic
# stand-in rule (id % 97 == 0 plays the benchmark), so the two checks
# audit the same "eval" population from both signal families.
#
# Scale shape: eval suites are tiny relative to a 100 TB corpus, so
# the benchmark side BROADCASTS (same argument as the n-gram check's
# broadcast shingle set) and the corpus side is a single broadcast
# nested-loop probe + per-vector hash-agg — linear in the corpus, no
# shuffle of the embedding table, no driver collect.
SEM_DECON_MOD = 97
SEM_DECON_REPORT = 0.3  # cosine at which a bench neighbor is reported
SEM_DECON_DROP = 0.42  # cosine at which the training vector is dropped


def dedup_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per contaminated training vector: how many benchmark vectors sit
    at cosine ≥ SEM_DECON_REPORT, the nearest one (ties to the lowest
    bench id), the max cosine, and the drop verdict at
    ≥ SEM_DECON_DROP.  Zero-norm and empty embeddings are excluded on
    both sides (they have no direction to compare)."""
    emb = _emb_double(spark, sf_dir).where(F.size("emb") > 0)
    e = emb.select(
        "vec_id", "emb", F.sqrt(_dot(F.col("emb"), F.col("emb"))).alias("nrm")
    ).where(F.col("nrm") > 0)
    bench = e.where(F.col("vec_id") % SEM_DECON_MOD == 0).select(
        F.col("vec_id").alias("bench_id"),
        F.col("emb").alias("bemb"),
        F.col("nrm").alias("bnrm"),
    )
    train = e.where(F.col("vec_id") % SEM_DECON_MOD != 0)
    cos = _dot(F.col("emb"), F.col("bemb")) / (F.col("nrm") * F.col("bnrm"))
    hits = (
        train.crossJoin(F.broadcast(bench))
        .select("vec_id", "bench_id", cos.alias("cos"))
        .where(F.col("cos") >= SEM_DECON_REPORT)
    )
    return (
        hits.groupBy("vec_id")
        .agg(
            F.count("*").alias("n_bench_hits"),
            F.max_by(
                "bench_id", F.struct(F.col("cos"), (-F.col("bench_id")))
            ).alias("nearest_bench_id"),
            F.max("cos").alias("mc"),
        )
        .select(
            "vec_id",
            "n_bench_hits",
            "nearest_bench_id",
            _fr4(F.col("mc")).alias("max_cosine"),
            (F.col("mc") >= SEM_DECON_DROP).alias("drop_vec"),
        )
        .orderBy("vec_id")
    )


SEM_DECON_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE len(embedding) > 0
),
n AS (
  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e
  WHERE sqrt(list_dot_product(emb, emb)) > 0
),
hits AS (
  SELECT t.vec_id, b.vec_id AS bench_id,
         list_dot_product(t.emb, b.emb) / (t.nrm * b.nrm) AS cos
  FROM n t JOIN n b
    ON t.vec_id % {SEM_DECON_MOD} <> 0 AND b.vec_id % {SEM_DECON_MOD} = 0
  WHERE list_dot_product(t.emb, b.emb) / (t.nrm * b.nrm)
        >= {SEM_DECON_REPORT}
)
SELECT vec_id,
       COUNT(*) AS n_bench_hits,
       FIRST(bench_id ORDER BY cos DESC, bench_id) AS nearest_bench_id,
       floor(MAX(cos) * 1e4 + 0.5) / 1e4 AS max_cosine,
       MAX(cos) >= {SEM_DECON_DROP} AS drop_vec
FROM hits
GROUP BY vec_id
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# SemDeDup (cluster-then-prune embedding dedup): assign every vector
# to a coarse centroid, then compare ONLY within-cluster pairs and
# prune the higher id of every pair above the cosine threshold — the
# published recipe that turns O(N²) semantic dedup into per-cluster
# work.  At 100 TB the cluster count k scales with the corpus so the
# per-cluster member count stays bounded (the within-cluster pair join
# is |cluster|² per key, which is the algorithm's knob, not an
# accident); the assignment stage is the broadcast probe shared with
# the Lloyd step.
SEMDEDUP_THRESHOLD = DUP_COSINE_THRESHOLD  # aligned with the exact tier


def sim_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per coarse cluster: members, within-cluster near-dup pairs at
    cosine ≥ SEMDEDUP_THRESHOLD, and vectors pruned (the higher id of
    each dup pair, counted once).  Zero-norm vectors are excluded (no
    direction to compare)."""
    _, assigned = _seed_assigned(spark, sf_dir)
    # materialize the assignment ONCE (guide §5): the self-join's two
    # sides plus the membership agg all consume it, and the executed
    # plan re-ran the centroid fit + broadcast probe lineage for each
    # (AQE stage reuse recovered only the vec_id agg exchange —
    # measured 9 parquet scans / 5 BroadcastNestedLoopJoins before,
    # 2 / 1 after).  The centroid-probe plan contract moved to the
    # assignment stage itself (test_semdedup_assignment_broadcast_
    # no_cartesian probes _seed_assigned directly).
    vecs = (
        assigned.select(
            "vec_id",
            "assigned",
            "emb",
            F.sqrt(_dot(F.col("emb"), F.col("emb"))).alias("nrm"),
        )
        .where(F.col("nrm") > 0)
        .localCheckpoint(eager=True)
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    cos = _dot(F.col("a.emb"), F.col("b.emb")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    dup = (
        a.join(
            b,
            (F.col("a.assigned") == F.col("b.assigned"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.assigned").alias("cluster"),
            F.col("b.vec_id").alias("loser"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= SEMDEDUP_THRESHOLD)
    )
    members = vecs.groupBy(F.col("assigned").alias("cluster")).agg(
        F.count("*").alias("n_members")
    )
    stats = dup.groupBy("cluster").agg(
        F.count("*").alias("n_dup_pairs"),
        F.countDistinct("loser").alias("n_pruned"),
    )
    return (
        members.join(stats, "cluster", "left")
        .select(
            "cluster",
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
        )
        .orderBy("cluster")
    )


SIM_SEMDEDUP_ORACLE = f"""
WITH {_ASSIGN_CTES},
vecs AS (
  SELECT vec_id, assigned, emb,
         sqrt(list_dot_product(emb, emb)) AS nrm
  FROM assigned
  WHERE sqrt(list_dot_product(emb, emb)) > 0
),
dup AS (
  SELECT a.assigned AS cluster, b.vec_id AS loser
  FROM vecs a JOIN vecs b
    ON a.assigned = b.assigned AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
        >= {SEMDEDUP_THRESHOLD}
),
members AS (
  SELECT assigned AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM vecs GROUP BY assigned
),
stats AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
         CAST(COUNT(DISTINCT loser) AS BIGINT) AS n_pruned
  FROM dup GROUP BY cluster
)
SELECT m.cluster, m.n_members,
       COALESCE(s.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(s.n_pruned, 0) AS n_pruned
FROM members m LEFT JOIN stats s ON s.cluster = m.cluster
ORDER BY m.cluster
"""


# --------------------------------------------------------------------------
# Matryoshka truncation audit — modern embedding models are trained so
# a PREFIX of the vector is itself a usable embedding (MRL); serving
# stacks exploit that by retrieving with the cheap truncated prefix
# and re-ranking with the full vector.  Before enabling that, a
# pipeline measures what prefix retrieval loses: exact top-k under
# full-dimension cosine vs exact top-k under prefix-only cosine, and
# the recall between them.  Both sides are TakeOrdered scans (no
# shuffle of the corpus), so the audit is linear and exact.
MRL_PREFIX_DIM = 16


def sim_mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: k, hits (overlap of the prefix top-k with the full
    top-k for the vec_id=0 query), and recall@k at
    MRL_PREFIX_DIM-of-64 truncation.  The query vector itself ranks
    first on both sides (cosine 1) and is excluded."""
    # Zero-norm guard (r7 ADVICE): a vector whose FULL embedding or
    # 16-dim PREFIX is all zeros yields cosine 0/0 = NaN, and NaN
    # sorts greatest in DESC order in both engines — such vectors
    # would silently top both lists and corrupt the recall while
    # parity still held.  Mirror the nrm > 0 filters of
    # dedup_semantic_decontaminate / sim_semdedup_prune, on BOTH
    # norms so the two rankings share one candidate domain.
    emb = _emb_double(spark, sf_dir).where(F.size("emb") > 0)
    pfx = F.slice(F.col("emb"), 1, MRL_PREFIX_DIM)
    emb = emb.where(
        (F.sqrt(_dot(F.col("emb"), F.col("emb"))) > 0)
        & (F.sqrt(_dot(pfx, pfx)) > 0)
    )
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("emb").alias("qv")
    )

    def topk(dim: int | None) -> DataFrame:
        if dim is None:
            e, qc = F.col("emb"), F.col("qv")
        else:
            e = F.slice(F.col("emb"), 1, dim)
            qc = F.slice(F.col("qv"), 1, dim)
        cos = _dot(e, qc) / (F.sqrt(_dot(e, e)) * F.sqrt(_dot(qc, qc)))
        return (
            emb.where(F.col("vec_id") != QUERY_VEC_ID)
            .crossJoin(F.broadcast(q))
            .select("vec_id", cos.alias("cos"))
            .orderBy(F.col("cos").desc(), "vec_id")
            .limit(TOP_K)
        )

    full = topk(None).select("vec_id")
    trunc = topk(MRL_PREFIX_DIM).select("vec_id")
    return (
        full.join(trunc, "vec_id")
        .agg(F.count("*").alias("hits"))
        .select(
            F.lit(TOP_K).alias("k"),
            "hits",
            _fr4(F.col("hits") / F.lit(float(TOP_K))).alias("recall"),
        )
    )


SIM_MRL_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  WHERE len(embedding) > 0
    AND sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[]))) > 0
    AND sqrt(list_dot_product(
          CAST(embedding AS DOUBLE[])[1:{MRL_PREFIX_DIM}],
          CAST(embedding AS DOUBLE[])[1:{MRL_PREFIX_DIM}])) > 0
),
q AS (SELECT emb AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
full_k AS (
  SELECT vec_id
  FROM e CROSS JOIN q
  WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY list_dot_product(emb, qv)
        / (sqrt(list_dot_product(emb, emb))
           * sqrt(list_dot_product(qv, qv))) DESC, vec_id
  LIMIT {TOP_K}
),
trunc_k AS (
  SELECT vec_id
  FROM e CROSS JOIN q
  WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY list_dot_product(emb[1:{MRL_PREFIX_DIM}], qv[1:{MRL_PREFIX_DIM}])
        / (sqrt(list_dot_product(emb[1:{MRL_PREFIX_DIM}],
                                 emb[1:{MRL_PREFIX_DIM}]))
           * sqrt(list_dot_product(qv[1:{MRL_PREFIX_DIM}],
                                   qv[1:{MRL_PREFIX_DIM}]))) DESC, vec_id
  LIMIT {TOP_K}
)
SELECT {TOP_K} AS k,
       CAST(COUNT(*) AS BIGINT) AS hits,
       floor(COUNT(*) * 1.0 / {TOP_K} * 10000.0 + 0.5) / 10000.0 AS recall
FROM full_k JOIN trunc_k USING (vec_id)
"""


QUERIES = {
    "dedup_semantic_fused_pairs": dedup_semantic_fused_pairs,
    "dedup_semantic_decontaminate": dedup_semantic_decontaminate,
    "sim_semdedup_prune": sim_semdedup_prune,
    "sim_mrl_truncation_recall": sim_mrl_truncation_recall,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_label_centroid_norms": sim_label_centroid_norms,
    "sim_ann_lsh_topk": sim_ann_lsh_topk,
    "sim_knn_top1": sim_knn_top1,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_multiprobe_topk": sim_ivf_multiprobe_topk,
    "sim_cosine_dup_pairs": sim_cosine_dup_pairs,
    "sim_sq8_topk": sim_sq8_topk,
    "sim_pq_topk": sim_pq_topk,
    "sim_ivf_pq_topk": sim_ivf_pq_topk,
    "sim_ivfpq_residual_topk": sim_ivfpq_residual_topk,
    "sim_kmeans_lloyd_step": sim_kmeans_lloyd_step,
    "sim_centroid_outliers": sim_centroid_outliers,
    "sim_dim_variance_profile": sim_dim_variance_profile,
    "sim_split_embedding_drift": sim_split_embedding_drift,
    "sim_ivf_recall_curve": sim_ivf_recall_curve,
    "sim_ivf_int_topk": sim_ivf_int_topk,
    "sim_pca_power_iteration": sim_pca_power_iteration,
}

ORACLE = {
    "dedup_semantic_fused_pairs": SIM_FUSED_ORACLE,
    "dedup_semantic_decontaminate": SEM_DECON_ORACLE,
    "sim_semdedup_prune": SIM_SEMDEDUP_ORACLE,
    "sim_mrl_truncation_recall": SIM_MRL_ORACLE,
    "sim_cosine_topk": SIM_TOPK_ORACLE,
    "sim_label_centroid_norms": SIM_CENTROID_ORACLE,
    "sim_knn_top1": SIM_KNN_ORACLE,
    "sim_cosine_dup_pairs": SIM_DUP_ORACLE,
    "sim_sq8_topk": SIM_SQ8_ORACLE,
    "sim_kmeans_lloyd_step": SIM_LLOYD_ORACLE,
    "sim_centroid_outliers": SIM_OUTLIERS_ORACLE,
    "sim_dim_variance_profile": SIM_DIM_PROFILE_ORACLE,
    "sim_split_embedding_drift": SIM_SPLIT_DRIFT_ORACLE,
    "sim_pca_power_iteration": SIM_PCA_ORACLE,
    # oracle-backed since r10: ±1 hyperplanes over quantized-integer
    # embeddings make the bucket index engine-exact
    "sim_ann_lsh_topk": SIM_ANN_LSH_ORACLE,
    # oracle-backed end-to-end, CODEBOOKS INCLUDED: the r10
    # integer-Lloyd machinery, family-wide since the r11 rebase (the
    # MLlib float fits — the last rows-only ANN surface — retired)
    "sim_ivf_topk": SIM_IVF_ORACLE,
    "sim_ivf_multiprobe_topk": SIM_IVF_MP_ORACLE,
    "sim_ivf_int_topk": SIM_IVF_INT_ORACLE,
    "sim_ivf_recall_curve": SIM_IVF_CURVE_ORACLE,
    "sim_pq_topk": SIM_PQ_ORACLE,
    "sim_ivf_pq_topk": SIM_IVF_PQ_ORACLE,
    "sim_ivfpq_residual_topk": SIM_IVFPQ_RESIDUAL_ORACLE,
}
