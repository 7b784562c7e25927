"""Harness-compatibility audit.

Two failure classes have produced red driver CORRECTNESS rows despite
value-identical results: (a) DuckDB returning HUGEINT (int128) for
integer SUMs — the driver's value-hash canonicalizes int128 differently
from Spark's bigint (burned sess1_user_sessions and tpch_q12 in rounds
1-2) — and (b) complex-typed output columns (array/map), which crash
the driver's pandas row canonicalizer with "unhashable type"
(burned the map-mart in r1 and mm_feature_extract in r2).

These tests bind every oracle (DuckDB DESCRIBE — no execution) and
every registered query's schema (plan only — no execution) and reject
both classes up front, so a new query can't reintroduce either.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from bigdata_gamedb_etl_spark.registry import PRIORITY, all_oracle, all_queries

QUERIES = all_queries()
ORACLE = all_oracle()
#: the driver's 50-query PRIORITY window
_WINDOW = set(PRIORITY[:50])

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


#: r15 driver-budget profile: schema flatness is checked for the
#: driver window by default (a new/changed query is always in the
#: window by the registry's rotation rules); the full 241-name sweep
#: rides the fullsweep tier.  The sim-family entries are the expensive
#: ones — their schemas only materialize after the in-query fits run.
@pytest.mark.parametrize(
    "name",
    [
        n if n in _WINDOW
        else pytest.param(n, marks=pytest.mark.fullsweep)
        for n in sorted(QUERIES)
    ],
)
def test_registered_query_schema_flat(name, spark, sf_dir):
    schema = QUERIES[name](spark, sf_dir).schema
    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: complex-typed output columns {bad} crash the driver's "
        "row canonicalizer; serialize with to_json or flatten to scalars "
        "in the registered form (keep the typed variant unregistered)"
    )


def test_every_query_has_driver_evidence_or_is_queued():
    """Structural rotation guard (r4 verdict item 3): a registered
    query with no row in ANY historical CORRECTNESS_r*.json must sit
    inside the driver's 50-entry PRIORITY window, so it gets driver
    evidence the round it lands.  Round 4 registered 5 queries without
    rotating the window; one of them was red and nobody could tell."""
    import glob
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    checked: set[str] = set()
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        checked.update(json.load(open(f)).keys())
    unqueued = [n for n in QUERIES if n not in checked and n not in _WINDOW]
    assert not unqueued, (
        f"queries with no driver evidence and not in the head-50 window: "
        f"{unqueued} — append them to the current round's *_NEW list in "
        "registry.py in the same commit that registers them"
    )


#: Rounds whose BENCH testdata.hash was produced by the retired
#: mtime-sensitive fingerprint algorithm — the value is not comparable
#: with bench._testdata_fingerprint's content hash and is treated as
#: unrecorded (see the comment block inside the staleness guard).
_LEGACY_FPV_ROUNDS = frozenset({5})


def test_stale_evidence_queries_are_queued():
    """Staleness guard (r5 verdict item 5): an oracle-backed query
    whose newest hash-verified driver row predates the current
    testdata fingerprint must sit in the PRIORITY window or the
    declared RECONFIRM_STALE rotation queue — otherwise its green is
    evidence about data that no longer exists and nobody is scheduled
    to re-confirm it.  Round 4 stalled exactly this way; round 5 made
    same-round registration structural, this makes re-rotation
    structural too."""
    import glob
    import json
    import os
    import re
    import sys

    from bigdata_gamedb_etl_spark.registry import RECONFIRM_STALE

    root = os.path.join(os.path.dirname(__file__), "..")
    sys.path.insert(0, root)
    from bench import _testdata_fingerprint

    live = _testdata_fingerprint("/root/testdata/sf0.1")["hash"]

    # Freshness derives from recorded data only (the r6-verdict
    # retirement plan: the _R4_FINGERPRINT grandfather constant was
    # deleted in round 8 once BENCH_r07 carried parsed.testdata.hash).
    # A round whose BENCH records the live hash is fresh.  Rounds with
    # no COMPARABLE fingerprint — r1-r4 (pre-fingerprint format), r6
    # (the capture-overflow defect), and r5, whose recorded value
    # predates the content-based fingerprint algorithm (it hashed file
    # mtimes, so the per-round testdata re-copies changed it on
    # byte-identical content; _LEGACY_FPV_ROUNDS documents the format
    # change, it does NOT grandfather freshness) — are credited ONLY
    # while the entire comparable recorded history is unanimous-and-
    # equal-to-live, i.e. no regeneration has ever been recorded.  The
    # moment any comparable recorded fingerprint diverges from the
    # live data, credit collapses to exactly the rounds that recorded
    # the live hash, and every green from an unrecorded round goes
    # stale — the behavior this guard exists for.  (Post-r7 every
    # oracle query's newest green is >= r4, so the unanimity credit
    # never reaches the pre-r4 testdata generation.)
    recorded: dict[int, str | None] = {}
    for f in glob.glob(os.path.join(root, "BENCH_r*.json")):
        rnd = int(re.search(r"BENCH_r(\d+)", f).group(1))
        d = json.load(open(f))
        recorded[rnd] = (d.get("parsed") or {}).get("testdata", {}).get(
            "hash"
        )
    for rnd in _LEGACY_FPV_ROUNDS:
        recorded.pop(rnd, None)
        recorded[rnd] = None
    fresh_rounds = {r for r, h in recorded.items() if h == live}
    seen_hashes = {h for h in recorded.values() if h}
    if fresh_rounds and seen_hashes == {live}:
        fresh_rounds |= {r for r, h in recorded.items() if h is None}

    latest_green: dict[str, int] = {}
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)", f).group(1))
        for name, row in json.load(open(f)).items():
            if row.get("hash_match") is True:
                latest_green[name] = max(latest_green.get(name, 0), rnd)

    stale = [
        name
        for name in sorted(ORACLE)
        if latest_green.get(name, 0) not in fresh_rounds
    ]
    queued = _WINDOW | set(RECONFIRM_STALE)
    unqueued = [n for n in stale if n not in queued]
    assert not unqueued, (
        f"oracle-backed queries whose driver evidence predates the "
        f"current testdata (fingerprint {live}) and that are not queued "
        f"for rotation: {unqueued} — append them to RECONFIRM_STALE in "
        "registry.py (the window takes the head automatically)"
    )


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


def test_bench_tree_cpu_seconds_counts_self_and_children():
    """r14: the CPU-ratio adjudication rule (BENCH_DETAIL.cpu_sec)
    stands on _tree_cpu_seconds summing utime+stime over this process
    AND its descendants — the local[32] executor threads live in the
    JVM child, so a self-only reading would miss ~all of the work.
    Pins: (a) monotone non-negative delta, (b) a CPU burn in THIS
    process registers, (c) a CPU burn in a CHILD process registers
    while the child is still alive (the JVM-outlives-the-bench case)."""
    import os
    import subprocess
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import _tree_cpu_seconds

    c0 = _tree_cpu_seconds()
    assert c0 is not None and c0 >= 0.0

    # (b) self burn: ~0.3 s of pure-Python spinning
    x = 0
    for i in range(4_000_000):
        x += i * i
    c1 = _tree_cpu_seconds()
    assert c1 - c0 >= 0.1, f"self CPU burn invisible: {c1 - c0}"

    # (c) child burn, read while the child is STILL RUNNING (the
    # helper only sees live descendants by design)
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
            "time.sleep(5)\n",
        ]
    )
    try:
        import time as _time

        deadline = _time.monotonic() + 10.0
        seen = 0.0
        while _time.monotonic() < deadline:
            seen = _tree_cpu_seconds() - c1
            if seen >= 0.5:
                break
            _time.sleep(0.2)
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
