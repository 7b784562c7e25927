"""Metric definitions: name, unit, direction, and for each per-layer
metric the end-to-end metric it should move and the workload it should
move it on.  `BENCHMARK.json` lists the same names and units (a test
keeps the two in step).
"""

from __future__ import annotations

WORKLOADS = ("query", "ingest")

#: Operator modules timed on `query`, one query each (see
#: `workloads.REPORT_QUERIES` and `workloads.CURATION_QUERIES`).
REPORT_MODULES = [
    "tpch", "tpch2", "core", "joins", "windows", "sqlqueries", "marts", "extended",
    "temporal",
]
CURATION_MODULES = ["dedup", "similarity", "textops", "pipeline", "multimodal"]
#: Modules whose operations run Python workers (the others read zero).
PYTHON_MODULES = {"multimodal"}
#: Modules whose operation shuffles nothing (its shuffle bytes read zero).
NO_SHUFFLE_MODULES = {"similarity"}

#: (name, unit, better, bound).  `setup_s`: process start to the first
#: timed pass (session, registry, staging, output checks).  `pass_s`:
#: wall time of a timed pass, summed over its operations from each one's
#: median over the passes.
#:
#: Printed but not kept as metrics, because they do not repeat within a
#: tenth from run to run on a shared 4-core VM:
#: - `cpu_s`, the same sum for process-tree CPU (this process, the JVM,
#:   Python workers, exited ones too) less the JVM's JIT compiler and
#:   garbage-collector threads (per-layer `jvm.jit_cpu_s`,
#:   `jvm.gc_cpu_s`).  Its quartile spread over ten seeds was 0.23 on
#:   query and 0.29 on ingest, against 0.16 and 0.23 for `pass_s`: CPU
#:   time rises with the wall time when the host slows down (no steal is
#:   recorded), and more on top when the JVM is warming up.
#: - `peak_rss_mb` (quartile spread 15% on query, 51% on ingest over 4
#:   seeds; JVM heap growth follows GC timing).
#: - `error_rate`, zero whenever the outputs are correct (attempted and
#:   failed operations are in every result line).
#: The stream batch median is a per-layer metric, since only `ingest`
#: streams; its tail is printed but not kept, because a run has fewer
#: than the 20 micro-batches a tail with ten batches above it needs.  Not
#: kept per module: `.spill_bytes`, zero on every operation at this scale.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
]


def _module_metrics(module: str, workload: str) -> list[tuple]:
    out = [
        (f"{module}.s", "s", "lower", "pass_s", workload),
        (f"{module}.call_s", "s", "lower", "pass_s", workload),
        (f"{module}.jobs", "count", "lower", "pass_s", workload),
        (f"{module}.executor_cpu_s", "s", "lower", "pass_s", workload),
    ]
    if module not in NO_SHUFFLE_MODULES:
        out.append((f"{module}.shuffle_write_bytes", "bytes", "lower", "pass_s", workload))
    if module in PYTHON_MODULES:
        out.append((f"{module}.python_worker_s", "s", "lower", "pass_s", workload))
    return out


#: (name, unit, better, moves, on)
PER_LAYER = (
    [
        ("session.start_s", "s", "lower", "setup_s", "all"),
        ("registry.load_s", "s", "lower", "setup_s", "all"),
    ]
    + [m for mod in REPORT_MODULES for m in _module_metrics(mod, "query")]
    + [m for mod in CURATION_MODULES for m in _module_metrics(mod, "query")]
    + [
        ("sources.scan_s", "s", "lower", "pass_s", "all"),
        ("sources.write_s", "s", "lower", "pass_s", "ingest"),
        ("sources.compact_s", "s", "lower", "pass_s", "ingest"),
        ("sources.bytes_written", "bytes", "lower", "pass_s", "ingest"),
        ("sources.files_written", "count", "lower", "pass_s", "ingest"),
        ("sources.write_amp", "ratio", "lower", "pass_s", "ingest"),
        ("sources.range_read_s", "s", "lower", "pass_s", "ingest"),
        ("sources.files_read", "count", "lower", "pass_s", "ingest"),
        ("functions.upsert_latest_s", "s", "lower", "pass_s", "ingest"),
        ("functions.scd2_apply_s", "s", "lower", "pass_s", "ingest"),
        ("functions.write_with_metrics_s", "s", "lower", "pass_s", "ingest"),
        ("streaming.batches", "count", "lower", "pass_s", "ingest"),
        ("streaming.batch_p50_s", "s", "lower", "pass_s", "ingest"),
        ("streaming.add_batch_s", "s", "lower", "pass_s", "ingest"),
        ("streaming.commit_s", "s", "lower", "pass_s", "ingest"),
        ("streaming.state_commit_s", "s", "lower", "pass_s", "ingest"),
        ("streaming.state_rows", "count", "lower", "pass_s", "ingest"),
        ("sinks.figures_s", "s", "lower", "pass_s", "query"),
        ("sinks.figures.jobs", "count", "lower", "pass_s", "query"),
        ("jvm.jit_cpu_s", "s", "lower", "pass_s", "all"),
        ("jvm.gc_cpu_s", "s", "lower", "pass_s", "all"),
        ("trace.overhead", "ratio", "lower", "pass_s", "all"),
    ]
)
