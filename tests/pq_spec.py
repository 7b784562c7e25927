"""Executable spec of the PQ / residual-PQ encode step.

The engine's two fused kernels (similarity._rpq_round_sums and
_rpq_adc_sum, which the shared-codebook tiers run as one cell 0) each
do in one Arrow pass what these un-fused forms do in explicit stages:
explode every vector into PQ_M subspace rows, then assign each row its
nearest sub-centroid with one integer-GEMM pandas UDF.
tests/test_fused_pq_kernels.py proves every fused kernel returns
exactly the integers of its spec composition; tests/test_properties.py
drives rpq_assign's GEMM against plain-Python argmin.

The UDFs are closures, so cloudpickle ships them by value (with the
PQ_M / PQ_SUBDIM constants they read) and this module need not be
importable on the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_gamedb_etl_spark.operators.similarity import PQ_M, PQ_SUBDIM


def _subspace_structs(col: str):
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.slice(col, j * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sub"),
                )
                for j in range(PQ_M)
            ]
        )
    ).alias("x")


def pq_subspaces(uq: DataFrame) -> DataFrame:
    """(vec_id, j, sub bigint[PQ_SUBDIM]) — one row per subspace of
    the unit-quantized vector `u`."""
    return uq.select("vec_id", _subspace_structs("u")).select(
        "vec_id", "x.j", "x.sub"
    )


def rpq_subspaces(res: DataFrame) -> DataFrame:
    """(vec_id, cell, j, sub bigint[PQ_SUBDIM]) — the residual analog
    of pq_subspaces over `r`, carrying the cell through."""
    return res.select("vec_id", "cell", _subspace_structs("r")).select(
        "vec_id", "cell", "x.j", "x.sub"
    )


def pq_assign(
    subs: DataFrame, cents: dict[tuple[int, int], list[int]]
) -> DataFrame:
    """Nearest sub-centroid per (vec, subspace) — one Arrow-batched
    integer GEMM pass covering all PQ_M subspaces (the batch is
    grouped by j inside the UDF; ties to the smallest code id,
    matching the oracle's FIRST(code ORDER BY dist2, code))."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    books: dict[int, tuple] = {}
    for j in sorted({jj for jj, _ in cents}):
        codes = sorted(c for jj, c in cents if jj == j)
        books[j] = (
            np.asarray(codes, dtype=np.int64),
            np.asarray([cents[(j, c)] for c in codes], dtype=np.int64),
        )

    @pandas_udf(IntegerType())
    def codeof(js, sub):
        if not len(js):
            return pd.Series([], dtype="int32")
        out = np.zeros(len(js), dtype=np.int64)
        jarr = js.to_numpy()
        for j in np.unique(jarr):
            idx = np.where(jarr == j)[0]
            ids, C = books[int(j)]
            E = np.vstack(sub.iloc[idx].to_numpy()).astype(np.int64)
            # argmin of dist² == argmin of (−2·e·c + |c|²); all int64,
            # no overflow: |u|,|c| ≤ ~1.1e6, PQ_SUBDIM ≤ 4 dims
            score = -2 * (E @ C.T) + (C * C).sum(axis=1)[None, :]
            out[idx] = ids[np.argmin(score, axis=1)]
        return pd.Series(out.astype("int32"))

    return subs.withColumn("code", codeof("j", "sub"))


def rpq_assign(
    subs: DataFrame, cents: dict[tuple[int, int, int], list[int]]
) -> DataFrame:
    """Nearest residual sub-centroid per (vec, subspace) under that
    vec's CELL codebook — one Arrow-batched integer GEMM pass, batch
    grouped by (cell, j) inside the UDF.  Callers must pre-filter to
    cells that HAVE a codebook (cells with ≥1 train member keep one
    for every j — each train vector stays in its cell, so the per-
    (cell, j) GROUP BY never empties while the cell has members)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    books: dict[tuple[int, int], tuple] = {}
    for cell, j in sorted({(c, j) for c, j, _ in cents}):
        codes = sorted(k for cc, jj, k in cents if cc == cell and jj == j)
        books[(cell, j)] = (
            np.asarray(codes, dtype=np.int64),
            np.asarray(
                [cents[(cell, j, k)] for k in codes], dtype=np.int64
            ),
        )

    @pandas_udf(IntegerType())
    def codeof(cells, js, sub):
        if not len(js):
            return pd.Series([], dtype="int32")
        out = np.zeros(len(js), dtype=np.int64)
        key = cells.to_numpy().astype(np.int64) * PQ_M + js.to_numpy()
        for kk in np.unique(key):
            idx = np.where(key == kk)[0]
            ids, C = books[(int(kk) // PQ_M, int(kk) % PQ_M)]
            E = np.vstack(sub.iloc[idx].to_numpy()).astype(np.int64)
            # argmin of dist² == argmin of (−2·e·c + |c|²); all int64,
            # no overflow: residual coords ≤ ~2.2e6, PQ_SUBDIM ≤ 4 dims
            score = -2 * (E @ C.T) + (C * C).sum(axis=1)[None, :]
            out[idx] = ids[np.argmin(score, axis=1)]
        return pd.Series(out.astype("int32"))

    return subs.withColumn("code", codeof("cell", "j", "sub"))
