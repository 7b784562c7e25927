"""BENCHMARK.json and the metric definitions in spec.py agree."""

from __future__ import annotations

import json
import os

from perfbench import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_the_spec_metrics():
    b = _bench()
    assert set(b) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == [
        tuple(m) for m in spec.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        tuple(m[:3]) for m in spec.PER_LAYER
    ]
    assert len(b["per_layer"]) <= 128
    assert tuple(w["name"] for w in b["workloads"]) == spec.WORKLOADS


def test_every_per_layer_metric_names_what_it_moves():
    e2e = {m[0] for m in spec.END_TO_END}
    for name, _, _, moves, on in spec.PER_LAYER:
        assert moves in e2e, name
        assert on == "all" or on in spec.WORKLOADS, name


def test_query_workload_times_one_query_per_named_module():
    from bigdata_gamedb_etl_spark import registry

    from perfbench import workloads

    queries = registry.all_queries()
    modules = [
        queries[q].__module__.rsplit(".", 1)[-1]
        for q in workloads.REPORT_QUERIES + workloads.CURATION_QUERIES
    ]
    assert modules == spec.REPORT_MODULES + spec.CURATION_MODULES


def test_tail_needs_twenty_samples():
    from perfbench.run import tail

    assert tail([1.0] * 19) is None
    # 30 samples: the tail is the 20th smallest, with ten above it
    assert tail([float(i) for i in range(30)]) == (19.0, 66.7)
