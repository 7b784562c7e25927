"""Harness-compatibility audit.

Two failure classes have produced red driver CORRECTNESS rows despite
value-identical results: (a) DuckDB returning HUGEINT (int128) for
integer SUMs — the driver's value-hash canonicalizes int128 differently
from Spark's bigint (burned sess1_user_sessions and tpch_q12 in rounds
1-2) — and (b) complex-typed output columns (array/map), which crash
the driver's pandas row canonicalizer with "unhashable type"
(burned the map-mart in r1 and mm_feature_extract in r2).

These tests bind every oracle (DuckDB DESCRIBE — no execution) and
build every registered query (schema and physical plan, no collect)
and reject both classes up front, so a new query can't reintroduce
either.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from bigdata_gamedb_etl_spark.registry import all_oracle, all_queries

QUERIES = all_queries()
ORACLE = all_oracle()

#: DECIMAL is banned in oracle *output* too: every oracle in this repo
#: computes in DECIMAL where order-free exactness matters, then casts
#: the result to DOUBLE — a DECIMAL that leaks to the output means the
#: cast was forgotten and the driver-vs-Spark dtype differs.
BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "INT128", "DECIMAL")


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_output_types_hash_safe(name, duck):
    rows = duck.execute("DESCRIBE " + ORACLE[name]).fetchall()
    bad = [
        (col, typ)
        for col, typ, *_ in rows
        if any(b in typ.upper() for b in BANNED_DUCK_TYPES)
    ]
    assert not bad, (
        f"{name}: oracle output columns {bad} are HUGEINT/DECIMAL-class; "
        "CAST(... AS BIGINT/DOUBLE) in the oracle SQL or the driver's "
        "value-hash will mismatch Spark's dtype"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_registered_query_schema_flat(name, spark, sf_dir):
    """The build contract of every registered query, checked on one
    build (building runs the query's eager barriers, so it is not
    plan-only):
    - no complex-typed output column, which would crash the driver's
      row canonicalizer;
    - no CartesianProduct in the physical plan, the one join operator
      with no scale story.  BroadcastNestedLoopJoin is allowed: Spark
      only emits it with a broadcast side, which is how the one-row
      global-aggregate crossJoins and the bounded band/block joins are
      built; an unbroadcastable full product always plans as
      CartesianProduct."""
    df = QUERIES[name](spark, sf_dir)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: complex-typed output columns {bad} crash the driver's "
        "row canonicalizer; serialize with to_json or flatten to scalars "
        "in the registered form (keep the typed variant unregistered)"
    )
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: plans a cartesian product"


def test_readme_counts_match_registry():
    """README's 'N named queries (M oracle-backed)' claim is asserted
    against the registry so the docs can't drift from the gate again."""
    import os
    import re

    readme = open(
        os.path.join(os.path.dirname(__file__), "..", "README.md")
    ).read()
    m = re.search(r"exposes (\d+) named queries \((\d+) oracle-backed\)", readme)
    assert m, "README correctness-contract sentence not found"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLE)


def test_bench_summary_line_fits_capture_budget():
    """Round-6 regression guard: bench's one-line JSON outgrew the
    driver's 2000-char stdout tail capture and BENCH_r06.parsed came
    back null (headline total, five SHARED12 timings, and the testdata
    fingerprint unrecorded).  The summary line now carries only totals
    + SHARED12 + fingerprint; this pins it under budget even at
    worst-case field widths, so adding EXTRAS series can never break
    the capture again."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import HEADLINE, SUMMARY_LINE_BUDGET, summary_payload

    worst_timings = {n: 99999.999 for n in HEADLINE}
    worst_fp = {"hash": "f" * 16, "total_bytes": 10**14, "n_files": 999}
    worst_env = {
        "load1": 99999.99,
        "n_procs": 9999999,
        "psi": {"avg10": 100.0, "avg60": 100.0, "avg300": 100.0},
    }
    line = json.dumps(
        summary_payload(
            worst_timings, worst_fp, 100.001, worst_env, worst_env
        )
    )
    assert len(line) <= SUMMARY_LINE_BUDGET, (
        f"worst-case summary line is {len(line)} chars (budget "
        f"{SUMMARY_LINE_BUDGET}) — it would overflow the driver's "
        "2000-char tail capture; move fields to BENCH_DETAIL.json"
    )


def test_bench_summary_payload_tolerates_shared12_only_timings():
    """summary_payload must not KeyError on a timings dict that has
    NO EXTRAS entries (a partial dict, e.g. built by hand from an
    artifact); extras_sec reports 0 for the absent set."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import SHARED12, summary_payload

    timings = {n: 1.0 for n in SHARED12}
    fp = {"hash": "f" * 16, "total_bytes": 1, "n_files": 10}
    payload = summary_payload(timings, fp, 0.1, {}, {})
    assert payload["shared12_sec"] == float(len(SHARED12))
    assert payload["extras_sec"] == 0


def test_bench_summary_payload_keys_and_query_order():
    """The bench harness parses the summary line: its top-level keys
    are fixed, and `queries` lists SHARED12 first, then the rest of
    the SCALING_COHORT in declared order.  Entries are only ever
    added, never removed or renamed."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import HEADLINE, SCALING_COHORT, SHARED12, summary_payload

    timings = {n: 1.0 for n in HEADLINE}
    fp = {"hash": "f" * 16, "total_bytes": 1, "n_files": 10}
    payload = summary_payload(timings, fp, 0.1, {}, {})
    assert list(payload) == [
        "metric", "value", "unit", "queries", "shared12_sec",
        "extras_sec", "sf", "testdata", "env", "detail_file",
    ]
    assert list(payload["queries"]) == SHARED12 + [
        n for n in SCALING_COHORT if n not in SHARED12
    ]


def test_bench_names_are_registered():
    """Every bench series (headline + scale probe) must name a
    registered query — a typo here would crash the driver's per-round
    bench run instead of failing locally."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import HEADLINE, SCALE_PROBE_QUERIES

    # bench.main() defines this one alias itself (the SHARED12
    # comparability pin for the re-pointed mm_feature_extract)
    bench_aliases = {"mm_feature_extract_json"}
    registered = set(QUERIES) | bench_aliases
    missing = (set(HEADLINE) | set(SCALE_PROBE_QUERIES)) - registered
    assert not missing, f"bench names not in registry: {sorted(missing)}"


def test_quiet_verdict_labels_loaded_and_quiet_runs():
    """r9 verdict item 2: the bench detail must self-label its
    quietness so a loaded run's delta table can't silently contradict
    the committed quiet adjudication.  Calibration cases from the
    tracked history: a quiet-start capture passes, the r9 driver's
    loaded capture (load1 3.14, psi60 0.26) fails on both before-run
    checks, and an empty capture abstains (None, not a guess)."""
    from bench import _quiet_verdict

    quiet = _quiet_verdict(
        {"load1": 0.06, "psi": {"avg60": 0.0},
         "stat_ticks": {"total": 100_000, "steal": 10}},
        {"stat_ticks": {"total": 200_000, "steal": 20}},
    )
    assert quiet["verdict"] is True

    loaded = _quiet_verdict(
        {"load1": 3.14, "psi": {"avg60": 0.26},
         "stat_ticks": {"total": 334_178_975, "steal": 524_186}},
        {"stat_ticks": {"total": 336_064_760, "steal": 524_443}},
    )
    assert loaded["verdict"] is False
    assert loaded["checks"]["load1_before_ok"] is False
    assert loaded["checks"]["psi60_before_ok"] is False

    stolen = _quiet_verdict(
        {"load1": 0.05, "psi": {"avg60": 0.0},
         "stat_ticks": {"total": 100_000, "steal": 0}},
        {"stat_ticks": {"total": 200_000, "steal": 5_000}},
    )
    assert stolen["verdict"] is False  # 5% steal during the run

    assert _quiet_verdict({}, {})["verdict"] is None


def test_prior_queries_compare_only_at_the_same_core_count(tmp_path, monkeypatch):
    """Bench deltas divide by a prior record's timings, so the prior
    must come from the same testdata AND the same core count: a
    32-core record read on a smaller box is not a baseline."""
    import json
    import os

    import bench

    def detail(name, cpus):
        path = tmp_path / name
        path.write_text(json.dumps({
            "testdata": {"hash": "h"},
            "env": {"before": {"cpus": cpus}},
            "queries": {"q": 1.5},
        }))
        return str(path)

    live = os.cpu_count()
    monkeypatch.setattr(bench, "DETAIL_FILE", detail("other.json", 32 if live != 32 else 4))
    assert bench._prior_queries("h") == {}
    monkeypatch.setattr(bench, "DETAIL_FILE", detail("live.json", live))
    assert bench._prior_queries("h") == {"q": 1.5}
    assert bench._prior_queries("other-hash") == {}


def test_bench_tree_cpu_seconds_counts_self_and_children():
    """The CPU-ratio adjudication rule (BENCH_DETAIL.cpu_sec) stands on
    bench._best_of reading utime+stime over this process AND its
    descendants — the executor threads live in the JVM child, so a
    self-only reading would miss ~all of the work.  Pins: (a) a CPU
    burn in THIS process registers, (b) a CPU burn in a CHILD process
    registers while the child is still alive (the JVM-outlives-the-
    bench case), (c) every reading is non-negative."""
    import os
    import subprocess
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import _best_of

    def self_burn():  # ~0.3 s of pure-Python spinning
        x = 0
        for i in range(4_000_000):
            x += i * i

    _, cpus = _best_of(self_burn, 2)
    assert all(c >= 0.1 for c in cpus), f"self CPU burn invisible: {cpus}"

    # the child burns 1 s of CPU, says so, then stays alive
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import time\n"
            "t0 = time.process_time()\n"
            "x = 0\n"
            "i = 0\n"
            "while time.process_time() - t0 < 1.0:\n"
            "    x += i * i\n"
            "    i += 1\n"
            "print('burnt', flush=True)\n"
            "time.sleep(30)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        # the child is forked before the first sample, so its whole
        # burn falls inside the timed call
        _, (seen,) = _best_of(child.stdout.readline, 1)
        assert seen >= 0.5, f"child CPU burn invisible: {seen}"
    finally:
        child.kill()
        child.wait()


def test_committed_bench_artifacts_are_self_labeling_and_complete():
    """r14 structural contract for the two committed perf artifacts:
    the adjudication chain (quiet self-label -> per-query wall -> r14
    cpu_sec) must be readable from the files alone.  Catches a
    half-written or wrong-mode file in the tree without pinning any
    timing VALUE (numbers drift between quiet runs by design) and
    WITHOUT requiring quiet-true: the driver's end-of-round run
    overwrites BENCH_DETAIL.json and routinely self-labels
    quiet-false (r13 round-end detail did) — that label being
    PRESENT and honest is the contract; being green is not."""
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")

    with open(os.path.join(root, "BENCH_DETAIL.json")) as fh:
        d = json.load(fh)
    assert d["quiet"]["verdict"] in (True, False, None)
    assert d["quiet"]["checks"], "quiet self-label lost its evidence"
    assert d["queries"], "no timed queries"
    for n in d["queries"]:
        assert n in d["per_query_runs"] and len(d["per_query_runs"][n]) == 3
        assert n in d["cpu_sec"], f"{n} missing cpu_sec (r14 contract)"
    assert d["shared12_sec"] > 0

    with open(os.path.join(root, "BENCH_PROBE.json")) as fh:
        p = json.load(fh)
    assert p["quiet"]["verdict"] in (True, False, None)
    sp = p.get("scale_probe") or p
    assert sp["ratio"], "no probe ratios"
    assert "cpu_ratio_note" in sp, "probe cpu_ratio reading note missing"
    for n in sp["ratio"]:
        assert n in sp["cpu_ratio"], f"{n} missing cpu_ratio"
