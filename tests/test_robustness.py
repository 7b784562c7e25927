"""Robustness: every query must handle empty inputs without crashing,
and the engine must be safe under concurrent query execution in one
SparkSession (shared temp views, shared catalog)."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from bigdata_gamedb_etl_spark.registry import all_queries
from bigdata_gamedb_etl_spark.sources.catalog import TABLE_NAMES, TABLE_SCHEMAS

#: r11: the set is empty — the IVF/PQ family's MLlib fits (which
#: crashed on an empty corpus by design) were replaced by the
#: integer-Lloyd machinery, which degrades to an empty result like
#: every other query.
EMPTY_EXEMPT: set[str] = set()

#: fixed-row-count reports: one row per audited relationship, even on
#: empty input (a DQ report that vanishes when the data does is a bug).
FIXED_ROWS = {
    "dq_referential_integrity": 4,
    # one row per audited join key (null metrics on empty input)
    "dq_key_skew_profile": 4,
    # one row per column pair (null corr on empty input)
    "stat_corr_matrix": 6,
    # 4 skew keys + 4 FK edges keep their rows; the freshness legs are
    # per-OBSERVED event type, so they vanish with the data
    "dq_quarantine_mart": 8,
    # one row per audited (table, column) pair, null_pct NULL on empty
    "dq_completeness_profile": 18,
    # one row per dedup rung, null metrics on an empty corpus
    "dedup_survivorship_funnel": 4,
    # one row per (bands, rows) ladder setting, zero counts on empty
    "dedup_lsh_band_ladder": 4,
    # one row per filter rule, zero counts on empty
    "pipeline_filter_attribution": 4,
    # one row per candidate threshold, zero counts on empty
    "dedup_threshold_sweep": 6,
}


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    for name in TABLE_NAMES:
        df = spark.createDataFrame([], TABLE_SCHEMAS[name])
        df.write.mode("overwrite").parquet(str(d / f"{name}.parquet"))
    return str(d)


def test_all_queries_survive_empty_tables(spark, empty_sf_dir):
    failures = []
    for name, fn in sorted(all_queries().items()):
        if name in EMPTY_EXEMPT:
            continue
        try:
            n = fn(spark, empty_sf_dir).count()
            # global aggregates legitimately return one row of
            # null/zero aggregates on empty input; fixed-row reports
            # keep their per-relationship rows; everything else: 0
            assert n <= FIXED_ROWS.get(name, 1), (
                f"{name}: {n} rows from empty input"
            )
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"{type(e).__name__}: {e}"))
    assert not failures, failures


def test_concurrent_queries_one_session(spark, sf_dir):
    queries = all_queries()
    names = [
        "a1_word_revenue",
        "sql_word_price_stats",
        "sql_json_props_stats",
        "w2_top_customers_per_nation",
        "j1_region_revenue",
        "dedup_exact_md5",
        "text_stats",
        "sql_supplier_distribution",
    ]
    sequential = {n: queries[n](spark, sf_dir).count() for n in names}
    with ThreadPoolExecutor(max_workers=8) as pool:
        concurrent = dict(
            zip(
                names,
                pool.map(lambda n: queries[n](spark, sf_dir).count(), names),
            )
        )
    assert concurrent == sequential


def test_python_udfs_unpickle_without_repo_on_path(tmp_path):
    """Executor Python workers don't necessarily have this repo on
    sys.path (a driver harness can import __spark_entry__ by file path
    from any cwd).  Every Python UDF the engine ships must therefore
    cloudpickle BY VALUE: this pickles them with pyspark's cloudpickle
    and unpickles + runs them in a subprocess whose sys.path excludes
    the repo — the exact failure mode is ModuleNotFoundError at
    unpickle time."""
    import subprocess
    import sys as _sys

    from pyspark import cloudpickle

    from bigdata_gamedb_etl_spark.operators import multimodal
    from bigdata_gamedb_etl_spark.operators import similarity as sim
    from bigdata_gamedb_etl_spark.streaming import windowed

    class _CaptureStateFn:
        """Stands in for a DataFrame: hands back the update fn that
        user_running_totals_stream passes to applyInPandasWithState."""

        def groupBy(self, *cols):
            return self

        def applyInPandasWithState(self, fn, **kwargs):
            return fn

    # a one-cell PQ codebook: one all-ones code per subspace
    cents = {(0, j, 0): [1] * sim.PQ_SUBDIM for j in range(sim.PQ_M)}
    blobs = {
        "mm_extract": multimodal._extract_batches,
        "stream_running_totals": windowed.user_running_totals_stream(
            _CaptureStateFn()
        ),
        "pq_round_kernel": sim._rpq_round_kernel(cents),
        "pq_adc": sim._rpq_adc_sum(
            cents, [1] * sim._EMB_DIM, {0: [0] * sim._EMB_DIM}
        ).func,
    }
    for name, fn in blobs.items():
        p = tmp_path / f"{name}.pkl"
        p.write_bytes(cloudpickle.dumps(fn))
    driver = tmp_path / "drive.py"
    driver.write_text(
        f"""
import pickle, sys, pandas as pd, pyarrow as pa
assert not any("repo" in p for p in sys.path if p), sys.path
fn = pickle.loads(open(sys.argv[1], "rb").read())
ones = [1] * {sim._EMB_DIM}
if "mm_extract" in sys.argv[1]:
    out = list(fn(iter([pd.DataFrame({{"doc_id": [1], "payload": [b"xyz"]}})])))
    assert out[0]["payload_bytes"].iloc[0] == 3
if "stream_running_totals" in sys.argv[1]:
    class State:
        exists = False
        def update(self, v):
            self.v = v
    st = State()
    out = list(fn((7,), iter([pd.DataFrame({{"value": [1.5, 2.0]}})]), st))
    assert out[0].iloc[0].tolist() == [7, 2, 3.5], out
    assert st.v == (2, 3.5), st.v
if "pq_round_kernel" in sys.argv[1]:
    batch = pa.RecordBatch.from_arrays(
        [pa.array([0], pa.int32()), pa.array([ones], pa.list_(pa.int64()))],
        names=["cell", "r"],
    )
    out = pa.Table.from_batches(list(fn(iter([batch]))))
    assert out.num_rows == {sim.PQ_M}, out
    assert set(out.column("n").to_pylist()) == {{1}}
if "pq_adc" in sys.argv[1]:
    # every subspace picks its only code: pdot = q_j . c = PQ_SUBDIM
    out = fn(pd.Series([0]), pd.Series([ones]))
    assert out.tolist() == [{sim._EMB_DIM}], out
print("OK")
"""
    )
    for name in blobs:
        r = subprocess.run(
            [_sys.executable, str(driver), str(tmp_path / f"{name}.pkl")],
            capture_output=True,
            text=True,
            cwd="/",
            env={"PATH": os.environ["PATH"], "PYTHONPATH": ""},
        )
        assert r.returncode == 0 and "OK" in r.stdout, (name, r.stderr[-2000:])


def _ckpt_local_dir(spark) -> str | None:
    """The session checkpoint dir as a local filesystem path, or None.
    ``getCheckpointDir`` returns a Hadoop URI (``file:/tmp/...`` under
    local mode); only a local-fs dir can be listed here."""
    d = spark.sparkContext.getCheckpointDir()
    if d is None:
        return None
    if d.startswith("file:"):
        d = d[len("file:") :]
        while d.startswith("//"):  # file:///x -> /x
            d = d[1:]
    elif "://" in d:  # non-local scheme
        return None
    return d if os.path.isdir(d) else None


def test_cluster_assign_reliable_checkpoint_path(spark, sf_dir):
    """The fault-tolerant materialization (reliable checkpoint() files
    instead of executor-local blocks) must produce exactly the same
    components as the default path — it only changes where the
    truncated lineage's data lives."""
    from bigdata_gamedb_etl_spark.operators.dedup import (
        RELIABLE_CKPT_CONF,
        dedup_cluster_assign,
    )

    baseline = sorted(
        tuple(r) for r in dedup_cluster_assign(spark, sf_dir).collect()
    )
    spark.conf.set(RELIABLE_CKPT_CONF, "true")
    try:
        reliable = sorted(
            tuple(r) for r in dedup_cluster_assign(spark, sf_dir).collect()
        )
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
    assert spark.sparkContext.getCheckpointDir() is not None
    assert reliable == baseline
    # superseded per-iteration label checkpoints must be deleted as the
    # loop advances (Spark's own cleaner is GC-driven and off by
    # default) — not one per iteration may remain; the exact count is
    # pinned by test_cluster_assign_reliable_checkpoint_keeps_only_final_labels.
    local = _ckpt_local_dir(spark)
    assert local is not None
    remaining = [e for e in os.listdir(local) if e.startswith("rdd-")]
    assert len(remaining) <= 3, (
        f"checkpoint dir leaks superseded iterations: {sorted(remaining)}"
    )


def test_cluster_assign_reliable_checkpoint_keeps_only_final_labels(
    spark, sf_dir, duck
):
    """On the reliable path each min-label run leaves only its final
    labels' checkpoint behind: the loop deletes its edge list's files
    once the labels stop reading it.  Three runs in one session add
    exactly three `rdd-*` dirs and return the oracle's components."""
    from bigdata_gamedb_etl_spark.operators.dedup import (
        RELIABLE_CKPT_CONF,
        dedup_cluster_assign,
    )
    from bigdata_gamedb_etl_spark.registry import all_oracle

    def rdd_dirs() -> set[str]:
        local = _ckpt_local_dir(spark)
        if local is None:
            return set()
        return {e for e in os.listdir(local) if e.startswith("rdd-")}

    expected = sorted(
        tuple(int(v) for v in r)
        for r in duck.execute(all_oracle()["dedup_cluster_assign"]).fetchall()
    )
    before = rdd_dirs()
    spark.conf.set(RELIABLE_CKPT_CONF, "true")
    try:
        runs = [
            sorted(tuple(r) for r in dedup_cluster_assign(spark, sf_dir).collect())
            for _ in range(3)
        ]
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
    assert expected
    assert runs == [expected] * 3
    added = rdd_dirs() - before
    assert len(added) == 3, f"checkpoint dirs left behind: {sorted(added)}"


def test_graph_queries_reliable_checkpoint_path(spark, sf_dir):
    """The graph family's materialize-once edge lists honor the same
    fault-tolerant checkpoint switch as the CC loop: identical results
    on both paths, including PageRank's per-iteration checkpoint
    rotation (exact-ownership cleanup) under the reliable conf."""
    from bigdata_gamedb_etl_spark.operators.dedup import RELIABLE_CKPT_CONF
    from bigdata_gamedb_etl_spark.operators.graph import (
        graph_2hop_reach,
        graph_pagerank,
    )

    base_2hop = sorted(tuple(r) for r in graph_2hop_reach(spark, sf_dir).collect())
    base_pr = sorted(tuple(r) for r in graph_pagerank(spark, sf_dir).collect())
    spark.conf.set(RELIABLE_CKPT_CONF, "true")
    try:
        rel_2hop = sorted(
            tuple(r) for r in graph_2hop_reach(spark, sf_dir).collect()
        )
        rel_pr = sorted(
            tuple(r) for r in graph_pagerank(spark, sf_dir).collect()
        )
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
    assert rel_2hop == base_2hop
    assert rel_pr == base_pr


#: Runs in a subprocess on local[2,2] (one retry per task): a Python
#: UDF fails attempt 0 of partition 0 once per tag and leaves a marker
#: file, so the test can tell an injected failure actually fired.
_RETRY_DRIVER = """
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import functions as F
from bigdata_gamedb_etl_spark.session import get_spark
from bigdata_gamedb_etl_spark.operators.dedup import (
    RELIABLE_CKPT_CONF, _materialize_iter, _min_label_components,
    _star_components,
)

markers, pairs_file, out_file = sys.argv[1:4]
spark = get_spark(
    app_name="retry-determinism", master="local[2,2]", shuffle_partitions=4
)
spark.sparkContext.setLogLevel("OFF")


def flaky(tag):
    def ident(x):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            open(os.path.join(markers, tag), "w").close()
            raise RuntimeError("injected failure " + tag)
        return x
    return F.udf(ident, "long")


pairs = [tuple(p) for p in json.load(open(pairs_file))]
out = {"sums": {}, "cc": {}}
for path in ("local", "reliable"):
    spark.conf.set(RELIABLE_CKPT_CONF, str(path == "reliable").lower())
    ids = spark.range(0, 1000, 1, 4)
    # the failure in the map stage before the shuffle; the observation
    # rides the post-shuffle stage
    before = (
        ids.select(flaky(path + "-before")("id").alias("v"))
        .groupBy((F.col("v") % 10).alias("k"))
        .agg(F.sum("v").alias("v"))
    )
    # the failure in the stage that carries the observation
    carrying = ids.repartition(4, "id").select(
        flaky(path + "-carrying")("id").alias("v")
    )
    for place, df in (("before", before), ("carrying", carrying)):
        _, (s,) = _materialize_iter(
            df, F.sum(F.col("v").cast("decimal(38,0)"))
        )
        out["sums"][path + "-" + place] = int(s)
    edges = spark.createDataFrame(pairs, "d1 long, d2 long").repartition(2)
    for name, cc in (
        ("min_label", _min_label_components), ("star", _star_components)
    ):
        tag = path + "-" + name
        flaky_pairs = edges.select(flaky(tag)("d1").alias("d1"), "d2")
        out["cc"][tag] = [list(r) for r in cc(flaky_pairs).collect()]
ckpt = spark.sparkContext.getCheckpointDir()[len("file:"):]
while ckpt.startswith("//"):
    ckpt = ckpt[1:]
out["ckpt_dir"] = ckpt
out["ckpt_dir_existed"] = os.path.isdir(ckpt)
spark.stop()
json.dump(out, open(out_file, "w"))
"""


def test_observed_barrier_and_cc_are_exact_under_task_retry(tmp_path):
    """The barrier's observed aggregate and the CC loops' results must
    not depend on a failed task attempt: a retried task's partial
    values are dropped, not merged twice.  Checked on both checkpoint
    paths from a foreign cwd, with the failure before the shuffle and
    in the observed stage itself.  The checkpoint dir the engine
    created is gone once the process exits."""
    import json
    import random
    import subprocess
    import sys as _sys

    rng = random.Random(7)
    pairs = [(i, i + 1) for i in range(9)]  # a chain 0-…-9
    for _ in range(40):
        a, b = rng.randrange(20, 80), rng.randrange(20, 80)
        if a != b:
            pairs.append((a, b))
    pairs += [(100, 101), (101, 102), (100, 102)]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        parent[find(a)] = find(b)
    comp_min: dict[int, int] = {}
    for n in parent:
        comp_min[find(n)] = min(comp_min.get(find(n), n), n)
    expected = sorted([n, comp_min[find(n)]] for n in parent)

    markers = tmp_path / "markers"
    markers.mkdir()
    (tmp_path / "pairs.json").write_text(json.dumps(pairs))
    (tmp_path / "drive.py").write_text(_RETRY_DRIVER)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [
            _sys.executable,
            str(tmp_path / "drive.py"),
            str(markers),
            str(tmp_path / "pairs.json"),
            str(tmp_path / "out.json"),
        ],
        capture_output=True,
        text=True,
        cwd="/tmp",
        env={**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads((tmp_path / "out.json").read_text())

    tags = [
        f"{path}-{case}"
        for path in ("local", "reliable")
        for case in ("before", "carrying", "min_label", "star")
    ]
    assert sorted(os.listdir(markers)) == sorted(tags), "a failure never fired"
    assert out["sums"] == {
        f"{path}-{place}": 499500
        for path in ("local", "reliable")
        for place in ("before", "carrying")
    }
    for path in ("local", "reliable"):
        for name in ("min_label", "star"):
            assert out["cc"][f"{path}-{name}"] == expected, (path, name)

    # Spark puts its checkpoints in a subdir of the dir the engine made
    assert out["ckpt_dir_existed"]
    made = os.path.dirname(out["ckpt_dir"])
    assert os.path.basename(made).startswith("gamedb-etl-ckpt-"), made
    assert not os.path.exists(made), f"engine checkpoint dir left: {made}"
