"""The output checks catch a tampered result."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks


def _rows():
    return [(1, "a", 1.5), (2, "b", 2.25), (3, "c", None)]


def test_identical_results_pass_in_any_order():
    cols, types = ["k", "s", "v"], ["bigint", "string", "double"]
    a = checks.result_digest(cols, types, _rows())
    b = checks.result_digest(
        ["v", "k", "s"], ["DOUBLE", "BIGINT", "VARCHAR"],
        [(r[2], r[0], r[1]) for r in reversed(_rows())],
    )
    checks.compare("q", a, b)


@pytest.mark.parametrize(
    "tamper",
    [
        lambda rows: rows[:-1],  # a row lost
        lambda rows: rows[:1] + [(2, "b", 2.26)] + rows[2:],  # a value changed
        lambda rows: rows + rows[:1],  # a row duplicated
    ],
)
def test_tampered_result_is_caught(tamper):
    cols, types = ["k", "s", "v"], ["bigint", "string", "double"]
    want = checks.result_digest(cols, types, _rows())
    got = checks.result_digest(cols, types, tamper(_rows()))
    with pytest.raises(checks.CheckFailed):
        checks.compare("q", got, want)


def test_type_family_drift_is_caught():
    want = checks.result_digest(["k"], ["bigint"], [(1,)])
    got = checks.result_digest(["k"], ["double"], [(1,)])
    with pytest.raises(checks.CheckFailed):
        checks.compare("q", got, want)


def test_tampered_dataset_is_caught(tmp_path):
    src = tmp_path / "src.parquet"
    out = tmp_path / "out"
    out.mkdir()
    table = pa.table({"k": list(range(100)), "v": [float(i) for i in range(100)]})
    pq.write_table(table, src)
    pq.write_table(table.slice(0, 50), out / "part-0.parquet")
    pq.write_table(table.slice(50), out / "part-1.parquet")
    con = checks.duck_with_tables(str(tmp_path))
    source = f"SELECT * FROM '{src}'"
    checks.check_dataset(con, "w", str(out), source, ["k", "v"])

    # one row's value changed in the written copy
    bad = table.slice(50).set_column(1, "v", pa.array([-1.0] + [float(i) for i in range(51, 100)]))
    pq.write_table(bad, out / "part-1.parquet")
    with pytest.raises(checks.CheckFailed):
        checks.check_dataset(con, "w", str(out), source, ["k", "v"])

    # one row lost
    os.remove(out / "part-1.parquet")
    pq.write_table(table.slice(50, 49), out / "part-1.parquet")
    with pytest.raises(checks.CheckFailed):
        checks.check_dataset(con, "w", str(out), source, ["k", "v"])
