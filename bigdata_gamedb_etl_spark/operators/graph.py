"""Graph analytics over the near-duplicate pair graph.

The reference has no graph surface; the engine's dedup component
already materializes a pair graph (dedup_ngram_jaccard_pairs) and an
iterative connected-components assignment (dedup_cluster_assign).
These operators add the non-iterative graph shapes a dedup/curation
pipeline asks next: "how entangled is each document" (2-hop
neighborhood size) and "how clique-y is the duplicate structure"
(triangle count) — both answerable in a fixed number of joins, no
driver loop.

Scale notes: the pair graph is DF-capped at construction (posting
lists are bounded, see dedup.py), so node degree is bounded and the
edge self-joins below are linear in |E|·degree, never quadratic in
the corpus.  Everything shuffles on node ids (longs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import (
    DEDUP_JACCARD_ORACLE,
    _materialize_iter,
    dedup_ngram_jaccard_pairs,
)


def _sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst) edge list of the near-dup pair graph."""
    p = dedup_ngram_jaccard_pairs(spark, sf_dir).select("d1", "d2")
    return p.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).union(p.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))


def graph_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per node: direct neighbors and distinct nodes reachable within
    two hops (self excluded) — the blast-radius metric reviewers use
    to decide whether a near-dup cluster needs manual eyes.

    Shape: edges ⋈ edges on the middle node, one distinct, one
    hash-agg — two shuffles total, degree-bounded.  The edge list is
    materialized ONCE (same discipline as the CC/PageRank loops):
    three consumers (1-hop, both wedge sides, degree) would otherwise
    each re-execute the whole shingle/posting-list pair generation —
    measured ~8 s → ~4 s at sf0.1."""
    e = _materialize_iter(_sym_edges(spark, sf_dir))
    one = e.select("src", F.col("dst").alias("reach"))
    two = e.alias("a").join(
        e.alias("b"), F.col("a.dst") == F.col("b.src")
    ).select(F.col("a.src").alias("src"), F.col("b.dst").alias("reach"))
    reach = (
        one.union(two)
        .where(F.col("src") != F.col("reach"))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("degree"))
    return (
        reach.groupBy("src")
        .agg(F.count("*").alias("reach_2hop"))
        .join(deg, "src")
        .select(
            F.col("src").alias("doc_id"), "degree", "reach_2hop"
        )
        .orderBy("doc_id")
    )


GRAPH_2HOP_ORACLE = f"""
WITH base_pairs AS ({DEDUP_JACCARD_ORACLE}),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM base_pairs
  UNION ALL
  SELECT d2, d1 FROM base_pairs
),
reach AS (
  SELECT DISTINCT src, reach FROM (
    SELECT src, dst AS reach FROM edges
    UNION ALL
    SELECT a.src, b.dst FROM edges a JOIN edges b ON a.dst = b.src
  )
  WHERE src <> reach
),
deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src)
SELECT reach.src AS doc_id, deg.degree, COUNT(*) AS reach_2hop
FROM reach JOIN deg ON reach.src = deg.src
GROUP BY reach.src, deg.degree
ORDER BY doc_id
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the pair graph: triangle count, nodes
    touching a triangle, and total nodes — one row.

    The classic ordered-wedge form: orient every edge small→large id,
    join wedges (a<b, b<c) against the closing edge (a<c) — each
    triangle counted exactly once, and the join input is the oriented
    edge list (half the symmetric one), materialized once for its four
    consumers (three join legs + the node census)."""
    p = _materialize_iter(
        dedup_ngram_jaccard_pairs(spark, sf_dir)
        .select(
            F.least("d1", "d2").alias("lo"),
            F.greatest("d1", "d2").alias("hi"),
        )
        .distinct()
    )
    tri = (
        p.alias("ab")
        .join(p.alias("bc"), F.col("ab.hi") == F.col("bc.lo"))
        .join(
            p.alias("ac"),
            (F.col("ab.lo") == F.col("ac.lo"))
            & (F.col("bc.hi") == F.col("ac.hi")),
        )
        .select(
            F.col("ab.lo").alias("a"),
            F.col("ab.hi").alias("b"),
            F.col("bc.hi").alias("c"),
        )
    )
    tri_nodes = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("n")).distinct()
    )
    nodes = p.select(F.explode(F.array("lo", "hi")).alias("n")).distinct()
    return (
        tri.agg(F.count("*").alias("triangles"))
        .crossJoin(
            F.broadcast(tri_nodes.agg(F.count("*").alias("triangle_nodes")))
        )
        .crossJoin(F.broadcast(nodes.agg(F.count("*").alias("graph_nodes"))))
    )


GRAPH_TRIANGLE_ORACLE = f"""
WITH base_pairs AS ({DEDUP_JACCARD_ORACLE}),
edges AS (
  SELECT DISTINCT LEAST(d1, d2) AS lo, GREATEST(d1, d2) AS hi
  FROM base_pairs
),
tri AS (
  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
  FROM edges ab
  JOIN edges bc ON ab.hi = bc.lo
  JOIN edges ac ON ab.lo = ac.lo AND bc.hi = ac.hi
),
tri_nodes AS (
  SELECT DISTINCT n FROM (
    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  )
),
nodes AS (
  SELECT DISTINCT n FROM (
    SELECT lo AS n FROM edges UNION ALL SELECT hi FROM edges
  )
)
SELECT (SELECT COUNT(*) FROM tri) AS triangles,
       (SELECT COUNT(*) FROM tri_nodes) AS triangle_nodes,
       (SELECT COUNT(*) FROM nodes) AS graph_nodes
"""


# --------------------------------------------------------------------------
# PageRank over the near-dup graph: which documents sit at the CENTER
# of duplicate structure (hub pages, templates every variant links to
# through shared shingles) vs the periphery.  Curation uses it to pick
# the canonical keeper per cluster: highest-rank member.
#
# Oracle-backed via exact fixed-point arithmetic: a FLOAT recurrence
# would have no cross-engine bit parity (per-iteration sums depend on
# summation order), so rank is carried as a BIGINT numerator at scale
# 10^12 and every step is integer-only — init rank = SCALE DIV n,
# contribution = rank DIV degree (integer sums are order-free), damped
# update = teleport + (17·Σ) DIV 20 (damping 0.85 as the exact ratio
# 17/20).  Identical integer ops in Spark and DuckDB → identical
# results; the DuckDB oracle unrolls the 8 fixed iterations into
# chained CTEs (aggregation inside a recursive CTE term is not
# portable).  Each DIV floors away <1 unit of 1e-12, so total mass
# stays within ~1e-8 of 1.0 — the conservation invariants in
# tests/test_llm_pipeline.py still hold at loose tolerance.
#
# Scale plan: per iteration ONE join of ranks against the static
# (edges ⋈ degree) relation keyed on src + ONE hash-agg on dst — both
# shuffle on node ids, partitioning reused across iterations by AQE.
# The symmetric edge list guarantees no dangling nodes (every node has
# out-degree ≥ 1), so no dangling-mass redistribution pass is needed.
# Iteration count is FIXED (no driver-side convergence probe → no
# collect in the query path); 8 rounds on a DF-capped pair graph whose
# components are small is past convergence.  Every round's ranks pass
# through the shared lineage barrier (dedup._materialize_iter).
PAGERANK_ITERS = 8
PAGERANK_DAMPING = 0.85  # carried exactly as DAMP_NUM/DAMP_DEN below
PAGERANK_SCALE = 10**12  # fixed-point denominator of the rank numerator
_DAMP_NUM, _DAMP_DEN = 17, 20  # 0.85 as an exact integer ratio
_TELEPORT_FIXED = PAGERANK_SCALE * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node PageRank (damping 0.85, 8 fixed iterations, total mass
    1.0) over the symmetric near-dup pair graph, rounded to 8dp."""
    # materialize the raw edge list before its two consumers (the
    # degree agg and the join below) — otherwise the jaccard pair
    # subtree executes twice during setup
    e = _materialize_iter(_sym_edges(spark, sf_dir))
    deg = e.groupBy("src").agg(F.count("*").alias("degree"))
    # materialize the static (edge ⋈ degree) relation ONCE — without
    # this every iteration's join re-executes the whole shingle/
    # posting-list pair generation (the same fix the CC loop carries),
    # and 8 iterations embed the jaccard subtree 8×.
    edge_deg = _materialize_iter(
        e.join(deg, "src").select(
            F.col("src").alias("node"), "dst", "degree"
        )
    )
    nodes = _materialize_iter(edge_deg.select("node").distinct())
    nt = nodes.agg(F.count("*").alias("n_nodes"))
    ranks = nodes.crossJoin(F.broadcast(nt)).select(
        "node",
        F.expr(f"CAST({PAGERANK_SCALE} AS BIGINT) DIV n_nodes").alias("rank"),
    )
    # materialize ranks EVERY iteration (same discipline as the CC
    # loop): without it iteration k's unmaterialized plan nests all k-1
    # prior rounds, so the loop re-executes O(iters²) stages — measured
    # 20 s for 8 rounds on a 477-node graph, pure scheduling
    for _ in range(PAGERANK_ITERS):
        contrib = (
            ranks.join(edge_deg, "node")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank DIV degree").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("cs"))
        )
        # left join: a node nobody links to keeps only teleport mass
        # (unreachable here — symmetric edges — but the shape is the
        # general one)
        ranks = _materialize_iter(
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nt))
            .select(
                "node",
                F.expr(
                    f"CAST({_TELEPORT_FIXED} AS BIGINT) DIV n_nodes"
                    f" + ({_DAMP_NUM} * coalesce(cs, CAST(0 AS BIGINT)))"
                    f" DIV {_DAMP_DEN}"
                ).alias("rank"),
            ),
            supersedes=ranks,
        )
    # 8dp round entirely in integer space: (rank + 5000) DIV 10^4 is an
    # exact integer at scale 10^8, and integers < 2^53 convert to
    # double identically in both engines
    return ranks.select(
        F.col("node").alias("doc_id"),
        (
            F.expr("(rank + 5000) DIV 10000").cast("double")
            / F.lit(100000000.0)
        ).alias("pagerank"),
    ).orderBy("doc_id")


def _pagerank_oracle() -> str:
    """DuckDB twin of graph_pagerank: the 8 fixed iterations unrolled
    into chained CTEs (aggregation inside a recursive CTE term is not
    portable), every step in the same exact BIGINT fixed-point
    arithmetic as the Spark loop."""
    ctes = [
        f"base_pairs AS ({DEDUP_JACCARD_ORACLE})",
        (
            "edges AS (SELECT d1 AS node, d2 AS dst FROM base_pairs\n"
            "  UNION ALL SELECT d2, d1 FROM base_pairs)"
        ),
        "deg AS (SELECT node, COUNT(*) AS degree FROM edges GROUP BY node)",
        (
            "edge_deg AS (SELECT e.node, e.dst, d.degree\n"
            "  FROM edges e JOIN deg d ON e.node = d.node)"
        ),
        "nodes AS (SELECT DISTINCT node FROM edges)",
        "nt AS (SELECT COUNT(*) AS n_nodes FROM nodes)",
        (
            f"r0 AS (SELECT node, {PAGERANK_SCALE} // n_nodes AS rank\n"
            "  FROM nodes CROSS JOIN nt)"
        ),
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        ctes.append(
            f"s{i} AS (SELECT ed.dst AS node,\n"
            f"  CAST(SUM(r.rank // ed.degree) AS BIGINT) AS cs\n"
            f"  FROM r{i - 1} r JOIN edge_deg ed ON r.node = ed.node\n"
            f"  GROUP BY ed.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.node,\n"
            f"  {_TELEPORT_FIXED} // n_nodes\n"
            f"  + ({_DAMP_NUM} * COALESCE(s{i}.cs, 0)) // {_DAMP_DEN} AS rank\n"
            f"  FROM nodes CROSS JOIN nt\n"
            f"  LEFT JOIN s{i} ON nodes.node = s{i}.node)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT node AS doc_id,
       CAST((rank + 5000) // 10000 AS DOUBLE) / 100000000.0 AS pagerank
FROM r{PAGERANK_ITERS}
ORDER BY doc_id
"""
    )


GRAPH_PAGERANK_ORACLE = _pagerank_oracle()


# --------------------------------------------------------------------------
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup pair graph: how many nodes
    have each degree — the one-line skew check on the duplicate
    structure (a heavy-tailed histogram means hub documents and
    motivates the df cap).  Two bounded hash-aggs over the edge
    list.

    Endpoint multiset via explode(array(d1, d2)) rather than
    _sym_edges' union: the union's two branches each re-execute the
    whole shingle/posting-list pair generation (the same duplicate-
    subtree cost graph_2hop_reach documents), which a one-shot
    histogram doesn't need — one explode doubles each pair row into
    its two endpoints in a single pass, and the multiset (hence every
    degree) is identical."""
    deg = (
        dedup_ngram_jaccard_pairs(spark, sf_dir)
        .select(F.explode(F.array("d1", "d2")).alias("src"))
        .groupBy("src")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )


GRAPH_DEGREE_ORACLE = f"""
WITH pairs AS ({DEDUP_JACCARD_ORACLE.replace("ORDER BY d1, d2", "")}),
sym AS (
  SELECT d1 AS src FROM pairs UNION ALL SELECT d2 FROM pairs
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY src)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
ORDER BY degree
"""


def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size histogram of the near-dup graph: how
    many clusters have each member count — the shape a dedup run
    reports (mostly pairs? a few giant blobs?).  Composes the
    iterative cluster assignment with two tiny hash-aggs."""
    from .dedup import dedup_cluster_assign

    clusters = dedup_cluster_assign(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _component_sizes_oracle() -> str:
    from .dedup import DEDUP_CLUSTER_ORACLE

    return f"""
WITH clusters AS ({DEDUP_CLUSTER_ORACLE}),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM clusters GROUP BY cluster_id
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size
ORDER BY cluster_size
"""


GRAPH_COMPONENT_SIZES_ORACLE = _component_sizes_oracle()


# --------------------------------------------------------------------------
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per edge: structural similarity of its endpoints — Jaccard of
    their open neighborhoods (excluding the endpoints themselves).
    High values mean the pair sits inside a dense blob (safe to
    collapse); zero means a bridge between otherwise-unrelated docs —
    the triage signal reviewers use on borderline near-dup pairs.

    Shape: one wedge join (edge × symmetric adjacency, the triangle
    query's shape) + a degree join — fixed join count, degree-bounded
    fanout (df cap upstream), no iteration.  Two empty neighborhoods
    define Jaccard 0 (guarded division; ANSI would throw on /0).  The
    pair list is materialized ONCE for its four consumers (pairs +
    both wedge sides + degree) — the 2-hop/triangle discipline; the
    unmaterialized form re-executed the posting-list generation per
    consumer (4.6 s → 3.3 s at sf0.1)."""
    pairs = _materialize_iter(
        dedup_ngram_jaccard_pairs(spark, sf_dir).select("d1", "d2")
    )
    sym = pairs.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).union(pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    a, b = sym.alias("a"), sym.alias("b")
    common = (
        pairs.join(a, F.col("d1") == F.col("a.src"))
        .join(
            b,
            (F.col("d2") == F.col("b.src"))
            & (F.col("a.dst") == F.col("b.dst")),
        )
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("common"))
    )
    da = deg.select(F.col("src").alias("d1"), F.col("deg").alias("deg1"))
    db = deg.select(F.col("src").alias("d2"), F.col("deg").alias("deg2"))
    union_sz = (
        F.col("deg1") - 1 + F.col("deg2") - 1 - F.col("common")
    )
    from ._rounding import _fr4

    return (
        pairs.join(common, ["d1", "d2"], "left")
        .join(da, "d1")
        .join(db, "d2")
        .select(
            "d1",
            "d2",
            F.coalesce("common", F.lit(0)).alias("common_neighbors"),
            F.when(
                union_sz > 0,
                _fr4(F.coalesce("common", F.lit(0)) / union_sz),
            )
            .otherwise(F.lit(0.0))
            .alias("neighbor_jaccard"),
        )
        .orderBy("d1", "d2")
    )


GRAPH_NEIGHBOR_JACCARD_ORACLE = f"""
WITH pairs AS ({DEDUP_JACCARD_ORACLE.replace("ORDER BY d1, d2", "")}),
sym AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL SELECT d2, d1 FROM pairs
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
common AS (
  SELECT p.d1, p.d2, CAST(COUNT(*) AS BIGINT) AS common
  FROM pairs p
  JOIN sym a ON a.src = p.d1
  JOIN sym b ON b.src = p.d2 AND b.dst = a.dst
  GROUP BY p.d1, p.d2
)
SELECT p.d1, p.d2,
       COALESCE(c.common, 0) AS common_neighbors,
       CASE WHEN da.deg - 1 + db.deg - 1 - COALESCE(c.common, 0) > 0
            THEN floor(COALESCE(c.common, 0) * 1.0
                       / (da.deg - 1 + db.deg - 1 - COALESCE(c.common, 0))
                       * 10000.0 + 0.5) / 10000.0
            ELSE 0.0 END AS neighbor_jaccard
FROM pairs p
LEFT JOIN common c ON c.d1 = p.d1 AND c.d2 = p.d2
JOIN deg da ON da.src = p.d1
JOIN deg db ON db.src = p.d2
ORDER BY p.d1, p.d2
"""


# --------------------------------------------------------------------------
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the near-dup graph:
    for every node of degree ≥ 2, the share of its neighbor pairs that
    are themselves connected — 2·T(v) / (d·(d−1)).  High coefficient =
    the node sits inside a near-clique (a template family where every
    variant matches every other); low = a hub stitching otherwise-
    unrelated documents (the "glue page" reviewers want to inspect
    before trusting transitive cluster collapse).

    Shape: the ordered-wedge triangle join from graph_triangle_count
    (oriented edge list materialized once for its join legs + the
    degree census), then per-node explode + two hash-aggs.  Linear in
    |E|·degree on a DF-capped graph — the same bound as the census.
    The coefficient is _fr4's floor recipe on a ratio of exact
    BIGINTs, the engine-agreed form (see _rounding.py)."""
    from ._rounding import _fr4

    p = _materialize_iter(
        dedup_ngram_jaccard_pairs(spark, sf_dir)
        .select(
            F.least("d1", "d2").alias("lo"),
            F.greatest("d1", "d2").alias("hi"),
        )
        .distinct()
    )
    tri = (
        p.alias("ab")
        .join(p.alias("bc"), F.col("ab.hi") == F.col("bc.lo"))
        .join(
            p.alias("ac"),
            (F.col("ab.lo") == F.col("ac.lo"))
            & (F.col("bc.hi") == F.col("ac.hi")),
        )
        .select(
            F.col("ab.lo").alias("a"),
            F.col("ab.hi").alias("b"),
            F.col("bc.hi").alias("c"),
        )
    )
    per_node_tri = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("triangles"))
    )
    deg = (
        p.select(F.explode(F.array("lo", "hi")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("degree"))
    )
    possible = F.col("degree") * (F.col("degree") - 1)
    return (
        deg.where(F.col("degree") >= 2)
        .join(per_node_tri, "n", "left")
        .select(
            F.col("n").alias("doc_id"),
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            _fr4(
                F.lit(2) * F.coalesce("triangles", F.lit(0)) / possible
            ).alias("clustering_coeff"),
        )
        .orderBy("doc_id")
    )


GRAPH_CLUSTERING_ORACLE = f"""
WITH base_pairs AS ({DEDUP_JACCARD_ORACLE}),
edges AS (
  SELECT DISTINCT LEAST(d1, d2) AS lo, GREATEST(d1, d2) AS hi
  FROM base_pairs
),
tri AS (
  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
  FROM edges ab
  JOIN edges bc ON ab.hi = bc.lo
  JOIN edges ac ON ab.lo = ac.lo AND bc.hi = ac.hi
),
per_node_tri AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY n
),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT lo AS n FROM edges UNION ALL SELECT hi FROM edges
  ) GROUP BY n
)
SELECT deg.n AS doc_id, deg.degree,
       COALESCE(t.triangles, 0) AS triangles,
       floor(2.0 * COALESCE(t.triangles, 0)
             / (deg.degree * (deg.degree - 1))
             * 10000.0 + 0.5) / 10000.0 AS clustering_coeff
FROM deg LEFT JOIN per_node_tri t ON t.n = deg.n
WHERE deg.degree >= 2
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
#: Fixed synchronous LPA rounds.  Near-dup communities are shallow
#: (the component-diameter argument of the CC loop), so 4 rounds is
#: past stability there; a FIXED count — rather than run-to-
#: convergence — is what makes the op deterministic and its oracle
#: writable (synchronous LPA can 2-cycle on bipartite structures, so
#: "until stable" is not well-defined; a fixed count is).
LPA_ITERS = 4


def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the near-dup pair graph:
    every node starts as its own label and, for LPA_ITERS synchronous
    rounds, adopts the most frequent label among its neighbors AND
    itself (ties → the smallest label).  Unlike connected components,
    LPA splits a weakly-bridged component into its dense cores — the
    signal a curation reviewer wants when one boilerplate edge chains
    two otherwise-unrelated duplicate families together.

    The self-vote is load-bearing, not stylistic: neighbor-only
    synchronous LPA swaps labels across any bipartite structure every
    round (an isolated 2-clique oscillates a↔b forever and an even
    round count restores the INITIAL labels — measured exactly that on
    the sf0.01 graph before the fix), while the self-vote makes the
    2-clique converge to min(a, b) in one round and damps larger
    oscillations the same way.

    Deterministic by construction: synchronous updates + min-label
    tie-break + a fixed round count (no RNG, no async visit order) —
    which is also what makes the oracle expressible as LPA_ITERS
    unrolled CTE layers (aggregation inside a recursive CTE is not
    portable; same recipe as graph_pagerank).

    Scale: per round one (edges ⋈ labels) shuffle join on node ids and
    two hash-aggs — all degree-bounded (the pair graph is DF-capped at
    construction); labels materialize per round with the same
    checkpoint discipline as the CC/PageRank loops, so no round's plan
    nests the rounds before it."""
    e = _materialize_iter(_sym_edges(spark, sf_dir))
    nodes = _materialize_iter(e.select("src").distinct())
    # self-loops carry the self-vote through the same join
    e = e.union(nodes.select("src", F.col("src").alias("dst")))
    lab = nodes.select("src", F.col("src").alias("lab"))
    for _ in range(LPA_ITERS):
        nbr = e.join(
            lab.select(F.col("src").alias("dst"), "lab"), "dst"
        ).select("src", "lab")
        # mode with min tie-break as ONE struct-min aggregate:
        # min((-count, label)) is lexicographic, so the largest count
        # wins and ties fall to the smallest label
        lab = _materialize_iter(
            nbr.groupBy("src", "lab")
            .agg(F.count("*").alias("c"))
            .groupBy("src")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("lab").alias("l")
                    )
                ).alias("m")
            )
            .select("src", F.col("m.l").alias("lab")),
            supersedes=lab,
        )
    return lab.select(
        F.col("src").alias("doc_id"), F.col("lab").alias("community")
    ).orderBy("doc_id")


def _lpa_oracle() -> str:
    """DuckDB twin of graph_lpa_communities: LPA_ITERS unrolled CTE
    layers; the mode-with-min-tie-break is the ordered aggregate
    FIRST(lab ORDER BY c DESC, lab) (arg_max rejects composite keys —
    the ts_ohlc_hourly recipe)."""
    ctes = [
        f"base_pairs AS ({DEDUP_JACCARD_ORACLE})",
        (
            "sym AS (SELECT d1 AS src, d2 AS dst FROM base_pairs\n"
            "  UNION ALL SELECT d2, d1 FROM base_pairs)"
        ),
        # self-loops = the self-vote (see the operator docstring)
        (
            "edges AS (SELECT src, dst FROM sym\n"
            "  UNION ALL SELECT DISTINCT src, src FROM sym)"
        ),
        "l0 AS (SELECT DISTINCT src, src AS lab FROM edges)",
    ]
    for i in range(1, LPA_ITERS + 1):
        ctes.append(
            f"c{i} AS (SELECT e.src, l.lab, COUNT(*) AS c\n"
            f"  FROM edges e JOIN l{i - 1} l ON e.dst = l.src\n"
            f"  GROUP BY e.src, l.lab)"
        )
        ctes.append(
            f"l{i} AS (SELECT src,\n"
            f"  FIRST(lab ORDER BY c DESC, lab) AS lab\n"
            f"  FROM c{i} GROUP BY src)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT src AS doc_id, lab AS community
FROM l{LPA_ITERS}
ORDER BY doc_id
"""
    )


GRAPH_LPA_ORACLE = _lpa_oracle()


# --------------------------------------------------------------------------
KCORE_K = 2
KCORE_ROUNDS = 6


def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the near-dup pair graph (k = KCORE_K): the maximal
    induced subgraph where every node keeps ≥ k neighbors — the
    standard split between tree-/chain-shaped duplicate families
    (peeled away) and the cyclically-entangled cores a reviewer must
    treat as one unit.  Output: (doc_id, core_degree) for surviving
    nodes.

    Synchronous peeling, KCORE_ROUNDS fixed rounds (the LPA
    discipline): each round drops every node whose degree among the
    CURRENT survivors is < k.  Fixed rounds keep the computation
    deterministic and the oracle expressible as unrolled CTE layers;
    convergence at test SF is PROVEN by the output itself —
    min(core_degree) ≥ k holds only at the fixed point, and
    tests/test_llm_pipeline.py asserts it.

    Scale: per round one survivor-restricted edge join (two hash
    joins on node ids) + one degree agg, all degree-bounded; the
    survivor table shrinks monotonically and materializes per round
    with the CC/PageRank checkpoint discipline."""
    e = _materialize_iter(_sym_edges(spark, sf_dir))
    surv = _materialize_iter(e.select("src").distinct())
    for _ in range(KCORE_ROUNDS):
        alive = e.join(surv, "src").join(
            surv.select(F.col("src").alias("dst")), "dst"
        )
        surv = _materialize_iter(
            alive.groupBy("src")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") >= KCORE_K)
            .select("src"),
            supersedes=surv,
        )
    # r12 (ADVICE): the final aggregate re-applies the degree >= k
    # gate.  At test SFs peeling has converged by KCORE_ROUNDS (the
    # invariant test proves it), but at a scale where it has NOT, a
    # bare emit would silently violate min(core_degree) >= k — this
    # filter makes a non-converged run drop the not-yet-peeled nodes
    # instead of reporting them as core members.
    final = (
        e.join(surv, "src")
        .join(surv.select(F.col("src").alias("dst")), "dst")
        .groupBy("src")
        .agg(F.count("*").alias("core_degree"))
        .where(F.col("core_degree") >= KCORE_K)
    )
    return final.select(
        F.col("src").alias("doc_id"), "core_degree"
    ).orderBy("doc_id")


def _kcore_oracle() -> str:
    """DuckDB twin: KCORE_ROUNDS unrolled peel layers over the same
    symmetric edge list.  Every CTE is MATERIALIZED: DuckDB otherwise
    inlines a CTE at each reference, and each layer joins the one
    before it twice, so the shingle self-join would run 2**KCORE_ROUNDS
    times (minutes at sf0.001 instead of a fraction of a second)."""
    ctes = [
        f"base_pairs AS MATERIALIZED ({DEDUP_JACCARD_ORACLE})",
        (
            "sym AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM base_pairs\n"
            "  UNION ALL SELECT d2, d1 FROM base_pairs)"
        ),
        "s0 AS MATERIALIZED (SELECT DISTINCT src FROM sym)",
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT sym.src FROM sym\n"
            f"  JOIN s{i - 1} a ON sym.src = a.src\n"
            f"  JOIN s{i - 1} b ON sym.dst = b.src\n"
            f"  GROUP BY sym.src HAVING COUNT(*) >= {KCORE_K})"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT sym.src AS doc_id, COUNT(*) AS core_degree
FROM sym
JOIN s{KCORE_ROUNDS} a ON sym.src = a.src
JOIN s{KCORE_ROUNDS} b ON sym.dst = b.src
GROUP BY sym.src HAVING COUNT(*) >= {KCORE_K}
ORDER BY doc_id
"""
    )


GRAPH_KCORE_ORACLE = _kcore_oracle()


QUERIES = {
    "graph_2hop_reach": graph_2hop_reach,
    "graph_lpa_communities": graph_lpa_communities,
    "graph_neighbor_jaccard": graph_neighbor_jaccard,
    "graph_triangle_count": graph_triangle_count,
    "graph_pagerank": graph_pagerank,
    "graph_degree_distribution": graph_degree_distribution,
    "graph_component_sizes": graph_component_sizes,
    "graph_clustering_coeff": graph_clustering_coeff,
    "graph_kcore_membership": graph_kcore_membership,
}

ORACLE = {
    "graph_2hop_reach": GRAPH_2HOP_ORACLE,
    "graph_lpa_communities": GRAPH_LPA_ORACLE,
    "graph_neighbor_jaccard": GRAPH_NEIGHBOR_JACCARD_ORACLE,
    "graph_triangle_count": GRAPH_TRIANGLE_ORACLE,
    "graph_pagerank": GRAPH_PAGERANK_ORACLE,
    "graph_degree_distribution": GRAPH_DEGREE_ORACLE,
    "graph_component_sizes": GRAPH_COMPONENT_SIZES_ORACLE,
    "graph_clustering_coeff": GRAPH_CLUSTERING_ORACLE,
    "graph_kcore_membership": GRAPH_KCORE_ORACLE,
}
