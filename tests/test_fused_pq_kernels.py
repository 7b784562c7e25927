"""Fused PQ kernel equivalence pins (guide §4).

The PQ family's fit and serving hot paths are two Arrow kernels keyed
(cell, j, code), shared by every tier.  The shared-codebook tiers run
them as one cell 0 whose centroid is zero:

  _rpq_round_sums, cell 0  ≡ pq_assign(pq_subspaces(·)) → groupBy(j, code)
  _rpq_round_sums          ≡ rpq_assign(rpq_subspaces(·))
                             → groupBy(cell, j, code)
  _rpq_adc_sum, cell 0     ≡ encode → broadcast-LUT join → groupBy(vec_id).sum
  _rpq_adc_sum             ≡ residual join → encode → LUT join → sum
                             → offset join

The un-fused forms live in tests/pq_spec.py as the executable SPEC (the
hypothesis property test drives rpq_assign's GEMM against plain-Python
argmin); these tests prove each fused kernel returns EXACTLY the same
integers as its spec composition on the real corpus, so the oracle-
parity guarantee transfers to the fused plans.  Each test builds its
own lookup table, independent of the engine's.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_gamedb_etl_spark.operators import similarity as sim
from pq_spec import pq_assign, pq_subspaces, rpq_assign, rpq_subspaces


def _uq_and_cents(spark, sf_dir):
    """Unit vectors and the shared codebook: the engine's keys (0, j,
    code) and the spec's (j, code) view of the same sub-centroids."""
    uq = sim._pq_unit_quantized(spark, sf_dir).localCheckpoint(eager=True)
    cents = sim._rpq_int_fit(uq.where(sim._int_train_gate()))
    assert cents, "empty PQ codebook on the test corpus"
    assert {cell for cell, _, _ in cents} == {0}
    return uq, cents, {(j, c): v for (_, j, c), v in cents.items()}


def test_pq_round_sums_match_explode_aggregate(spark, sf_dir):
    uq, cents, spec_cents = _uq_and_cents(spark, sf_dir)
    train = uq.where(sim._int_train_gate())
    one_cell = train.select(F.lit(0).alias("cell"), F.col("u").alias("r"))
    fused = {
        (r["cell"], r["j"], r["code"]): (
            [r[f"s{d}"] for d in range(sim.PQ_SUBDIM)], r["n"]
        )
        for r in sim._rpq_round_sums(one_cell, cents).collect()
    }
    spec = {
        (0, r["j"], r["code"]): (
            [r[f"s{d}"] for d in range(sim.PQ_SUBDIM)], r["n"]
        )
        for r in pq_assign(pq_subspaces(train), spec_cents)
        .groupBy("j", "code")
        .agg(*sim._dim_sum_aggs("sub", sim.PQ_SUBDIM))
        .collect()
    }
    assert fused == spec


def test_rpq_round_sums_match_explode_aggregate(spark, sf_dir):
    eq = sim._int_quantized(spark, sf_dir)
    coarse = sim._int_lloyd_fit(
        eq.where(sim._int_train_gate()).select("vec_id", "e")
    )
    assert coarse
    assigned = sim._int_assign(eq, coarse).localCheckpoint(eager=True)
    uq = sim._pq_unit_quantized(spark, sf_dir).localCheckpoint(eager=True)
    res_train = sim._rpq_residuals(
        uq.where(sim._int_train_gate()), assigned, sim._unit_centroids(coarse)
    ).localCheckpoint(eager=True)
    rcents = sim._rpq_int_fit(res_train)
    assert rcents
    fused = {
        (r["cell"], r["j"], r["code"]): (
            [r[f"s{d}"] for d in range(sim.PQ_SUBDIM)], r["n"]
        )
        for r in sim._rpq_round_sums(res_train, rcents).collect()
    }
    spec = {
        (r["cell"], r["j"], r["code"]): (
            [r[f"s{d}"] for d in range(sim.PQ_SUBDIM)], r["n"]
        )
        for r in rpq_assign(rpq_subspaces(res_train), rcents)
        .groupBy("cell", "j", "code")
        .agg(*sim._dim_sum_aggs("sub", sim.PQ_SUBDIM))
        .collect()
    }
    assert fused == spec


def test_pq_adc_sum_matches_lut_join(spark, sf_dir):
    uq, cents, spec_cents = _uq_and_cents(spark, sf_dir)
    q = uq.where(F.col("vec_id") == sim.QUERY_VEC_ID).first()
    assert q is not None
    qu = [int(v) for v in q["u"]]
    lut = {
        (j, code): sum(
            a * b
            for a, b in zip(
                qu[j * sim.PQ_SUBDIM : (j + 1) * sim.PQ_SUBDIM], c
            )
        )
        for (j, code), c in spec_cents.items()
    }
    adc = sim._rpq_adc_sum(cents, qu, {0: [0] * sim._EMB_DIM})
    fused = {
        r["vec_id"]: r["s"]
        for r in uq.select("vec_id", adc(F.lit(0), "u").alias("s")).collect()
    }
    lut_df = spark.createDataFrame(
        [(j, c, p) for (j, c), p in sorted(lut.items())],
        "j int, code int, pdot bigint",
    )
    spec = {
        r["vec_id"]: r["s"]
        for r in pq_assign(pq_subspaces(uq), spec_cents)
        .join(F.broadcast(lut_df), ["j", "code"])
        .groupBy("vec_id")
        .agg(F.sum("pdot").alias("s"))
        .collect()
    }
    assert fused == spec


def test_rpq_adc_sum_matches_join_chain(spark, sf_dir):
    eq = sim._int_quantized(spark, sf_dir)
    coarse = sim._int_lloyd_fit(
        eq.where(sim._int_train_gate()).select("vec_id", "e")
    )
    assert coarse
    assigned = sim._int_assign(eq, coarse).localCheckpoint(eager=True)
    cunit = sim._unit_centroids(coarse)
    uq = sim._pq_unit_quantized(spark, sf_dir).localCheckpoint(eager=True)
    res_train = sim._rpq_residuals(
        uq.where(sim._int_train_gate()), assigned, cunit
    )
    rcents = sim._rpq_int_fit(res_train)
    assert rcents
    qrow = (
        assigned.where(F.col("vec_id") == sim.QUERY_VEC_ID)
        .select("e")
        .first()
    )
    assert qrow is not None
    qu = sim._unit_quantize_py([int(v) for v in qrow["e"]])
    assert qu is not None
    lut = {
        (cell, j, code): sum(
            a * b
            for a, b in zip(
                qu[j * sim.PQ_SUBDIM : (j + 1) * sim.PQ_SUBDIM], c
            )
        )
        for (cell, j, code), c in rcents.items()
    }
    off = {
        cell: sum(a * b for a, b in zip(qu, cu))
        for cell, cu in cunit.items()
    }
    covered = {cell for cell, _, _ in rcents}
    cand = assigned.where(
        F.col("cell").isin(sorted(covered))
    ).select("vec_id", "cell")
    radc = sim._rpq_adc_sum(rcents, qu, cunit)
    fused = {
        r["vec_id"]: r["t"]
        for r in uq.join(cand, "vec_id")
        .select("vec_id", radc("cell", "u").alias("t"))
        .collect()
    }
    lut_df = spark.createDataFrame(
        [(c, j, k, p) for (c, j, k), p in sorted(lut.items())],
        "cell int, j int, code int, pdot bigint",
    )
    off_df = spark.createDataFrame(
        sorted(off.items()), "cell int, odot bigint"
    )
    enc = rpq_assign(
        rpq_subspaces(
            sim._rpq_residuals(
                uq.join(cand.select("vec_id"), "vec_id"), assigned, cunit
            )
        ),
        rcents,
    )
    spec = {
        r["vec_id"]: r["t"]
        for r in enc.join(F.broadcast(lut_df), ["cell", "j", "code"])
        .groupBy("vec_id", "cell")
        .agg(F.sum("pdot").alias("s"))
        .join(F.broadcast(off_df), "cell")
        .select("vec_id", (F.col("odot") + F.col("s")).alias("t"))
        .collect()
    }
    assert fused == spec


def _one_cell_codebook():
    """Residual codebook covering cell 0 only (one zero code per j)."""
    return {(0, j, 0): [0] * sim.PQ_SUBDIM for j in range(sim.PQ_M)}


_UNCOVERED = r"cell 1, which has no codebook.*callers pre-filter to covered"


def test_rpq_round_sums_rejects_uncovered_cell(spark):
    res = spark.createDataFrame(
        [(0, 1, [1] * sim._EMB_DIM)], "vec_id long, cell int, r array<bigint>"
    )
    with pytest.raises(Exception, match=_UNCOVERED):
        sim._rpq_round_sums(res, _one_cell_codebook()).collect()


def test_rpq_adc_sum_rejects_uncovered_cell(spark):
    rcents = _one_cell_codebook()
    radc = sim._rpq_adc_sum(
        rcents,
        [0] * sim._EMB_DIM,
        {0: [0] * sim._EMB_DIM, 1: [0] * sim._EMB_DIM},
    )
    uq = spark.createDataFrame(
        [(1, [1] * sim._EMB_DIM)], "cell int, u array<bigint>"
    )
    with pytest.raises(Exception, match=_UNCOVERED):
        uq.select(radc("cell", "u")).collect()
