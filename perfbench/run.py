"""Benchmark of the spark-graft engine: one closed-loop client on
`local[nproc]`, issuing the operations of one workload back to back.

    python3 perfbench/run.py --workload query --seed 1 --seconds 25 --trace 0

Run from the root of a source tree (the engine package is imported from
the working directory).  A run stages seeded inputs, checks every
operation's output once, then times about `--seconds` of passes over
the workload's operations (at least three).  With `--trace 1` the timed
passes run with the event log on and a job group per operation, then
again untraced in a new Spark context, for the tracing overhead.  The
last line of standard output is one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics,
or with `--trace 1` the per-layer metrics).  Lines before it give each
metric with its unit and sample count, the set-up breakdown, per-pass
and per-operation times, notes and the run's provenance.

Every file the run writes (inputs, outputs, checkpoints, warehouse,
event log, JVM and Python temporary files) goes under
`.perfbench_work/` in the working directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import proctree, spec  # noqa: E402

#: Nominal warm pass time per workload on a 4-core machine.  A run
#: times ceil(seconds / nominal) passes, at least three and always an
#: odd count, so each operation's median is one of its own samples and
#: a stall in one pass is left out.  The count is fixed, not a deadline:
#: the JVM is still warming up over the first passes, and a count that
#: varied with each run's speed would shift the median.
NOMINAL_PASS_S = {"query": 11.0, "ingest": 8.5}
MIN_PASSES = 3
#: Threads of the output-check pass.
CHECK_THREADS = 3
#: Scale factor of the staged star schema (documents/embeddings are
#: fixed-size); `--scale smoke` uses the smallest.
SCALES = {"bench": 0.005, "smoke": 0.001}
#: Shuffle partitions of the benchmark session: a fixed count (not one
#: per core) so plans and job counts are the same on any machine.
SHUFFLE_PARTITIONS = 8


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile that has at least
    ten samples above it; None when there are fewer than 20 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return None
    k = n - 10  # samples at or below the tail value
    return xs[k - 1], round(100.0 * k / n, 1)


def session_configs(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    return confs


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
            timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.notes: list[str] = []
        self.monitor = proctree.TreeMonitor().start()
        self.spark = None

    # -- set-up --------------------------------------------------------

    def start_session(self, trace: bool):
        from bigdata_gamedb_etl_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=self.master,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            configs=session_configs(self.work, trace),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.monotonic() - t0

    def setup(self):
        from perfbench import checks, datagen, workloads

        self.session_start_s = self.start_session(bool(self.args.trace))
        t0 = time.monotonic()
        from bigdata_gamedb_etl_spark import registry

        queries, oracle = registry.all_queries(), registry.all_oracle()
        self.registry_load_s = time.monotonic() - t0

        t0 = time.monotonic()
        data_dir = os.path.join(self.work, "data")
        datagen.write_tables(datagen.build_tables(SCALES[self.args.scale]), data_dir)
        self.fingerprint = datagen.fingerprint(data_dir)
        self.ctx = workloads.Ctx(
            self.spark, data_dir, self.work, self.args.seed, queries, oracle,
            duck=checks.duck_with_tables(data_dir),
        )
        self.chains, self.params = workloads.build(self.args.workload, self.ctx)
        self.staging_s = time.monotonic() - t0
        t0 = time.monotonic()

        # output checks, one per operation; they also warm the JVM up.
        # Chains run on CHECK_THREADS threads (the operations of a chain
        # in order), which overlaps the driver-side cold start (planning,
        # code generation, JIT) of different operations.
        self.ctx.pass_id = -1
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            chains = workloads.chain_order(self.chains, self.args.seed, -1)
            failures = [f for fs in pool.map(self.check_chain, chains) for f in fs]
        self.attempted += sum(len(ch) for ch in self.chains)
        self.failed += len(failures)
        self.failures += failures
        self.checks_s = time.monotonic() - t0
        if self.args.workload == "ingest":
            err = workloads.known_defect_int96_stream(self.ctx)
            self.notes.append(
                "known defect stream_spark_written: "
                + (f"reproduces ({err})" if err else "no longer reproduces")
            )

    def check_chain(self, chain) -> list[str]:
        # a DuckDB connection is not shared between threads; a cursor
        # sees the same views
        ctx = dataclasses.replace(self.ctx, duck=self.ctx.duck.cursor())
        failures = []
        for op in chain:
            try:
                op.check(ctx)
            except Exception as e:  # noqa: BLE001 - every failure is counted
                failures.append(f"{op.name}: {str(e).splitlines()[0][:300]}")
        return failures

    # -- timed passes ----------------------------------------------------

    def run_pass(self, pass_id: int, traced: bool) -> dict:
        from perfbench import workloads

        ctx = self.ctx
        ctx.pass_id, ctx.record, ctx.progress = pass_id, {}, {}
        sc = self.spark.sparkContext
        ops = workloads.pass_order(self.chains, self.args.seed, pass_id)
        mon = self.monitor
        for op in ops:
            if traced:
                sc.setJobGroup(f"{pass_id}|{op.name}", op.name)
            self.attempted += 1
            svc0, cpu0 = mon.service_cpu_s(), mon.sample()
            t0 = time.monotonic()
            try:
                op.run(ctx)
            except Exception as e:  # noqa: BLE001
                self.failed += 1
                self.failures.append(
                    f"{op.name} (pass {pass_id}): {str(e).splitlines()[0][:300]}"
                )
            rec = ctx.record.setdefault(op.name, {})
            rec["s"] = time.monotonic() - t0
            cpu, svc = mon.sample() - cpu0, mon.service_cpu_s()
            rec["jit_cpu"], rec["gc_cpu"] = (svc[k] - svc0[k] for k in ("jit", "gc"))
            rec["cpu"] = cpu - rec["jit_cpu"] - rec["gc_cpu"]
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            for op in ops:
                group = f"{pass_id}|{op.name}"
                ctx.record[op.name]["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        return {
            "wall": sum(r["s"] for r in ctx.record.values()),
            "record": ctx.record,
            "progress": ctx.progress,
        }

    def timed_passes(self, traced: bool, first_id: int = 0) -> list[dict]:
        n = max(MIN_PASSES, math.ceil(self.args.seconds / NOMINAL_PASS_S[self.args.workload]))
        n += 1 - n % 2
        return [self.run_pass(first_id + i, traced) for i in range(n)]

    def scan_floor(self) -> float:
        """Noop scan of every staged input table (the read floor)."""
        from bigdata_gamedb_etl_spark.sources import catalog

        t0 = time.monotonic()
        for name in catalog.TABLE_NAMES:
            catalog.table(self.spark, self.ctx.data_dir, name).write.format(
                "noop"
            ).mode("overwrite").save()
        return time.monotonic() - t0


def stream_stats(passes: list[dict]) -> dict:
    """Per-micro-batch figures pooled over the passes' stream runs."""
    batch, add, commit, state_commit, per_pass, state_rows = [], [], [], [], [], 0
    for p in passes:
        n = 0
        for op, progs in p["progress"].items():
            for prog in progs:
                dur = prog.durationMs
                if "triggerExecution" not in dur or prog.numInputRows == 0:
                    continue
                n += 1
                batch.append(dur["triggerExecution"] / 1e3)
                add.append(dur.get("addBatch", 0) / 1e3)
                commit.append((dur.get("walCommit", 0) + dur.get("commitOffsets", 0)) / 1e3)
                ops = prog.stateOperators
                if ops:
                    state_commit.append(sum(s.commitTimeMs for s in ops) / 1e3)
                    state_rows = max(state_rows, sum(s.numRowsTotal for s in ops))
        per_pass.append(n)
    return {
        "batches": median(per_pass),
        "samples": len(batch),
        "p50": median(batch),
        "tail": tail(batch),
        "add": median(add),
        "commit": median(commit),
        "state_commit": median(state_commit),
        "state_rows": state_rows,
    }


def op_median_sum(passes: list[dict], key: str) -> float:
    """A pass's `key` built from each operation's median over the passes,
    so a stall that hits one operation in one pass does not count."""
    return sum(
        median([p["record"][name][key] for p in passes]) for name in passes[0]["record"]
    )


def end_to_end(runner: Runner, passes: list[dict], setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (op_median_sum(passes, "s"), "s", len(passes)),
    }


def per_layer(runner: Runner, passes: list[dict], groups: dict, scan_s: list[float],
              overhead: float) -> dict:
    from perfbench import spec, workloads

    ctx = runner.ctx
    module_of = {n: workloads.query_module(ctx, n) for n in ctx.queries}
    n_pass = len(passes)
    out: dict[str, tuple] = {
        "session.start_s": (runner.session_start_s, "s", 1),
        "registry.load_s": (runner.registry_load_s, "s", 1),
        "sources.scan_s": (median(scan_s), "s", len(scan_s)),
        "trace.overhead": (overhead, "ratio", n_pass),
    }

    def per_pass(select, value) -> float:
        """Median over passes of the sum of `value` over selected ops."""
        sums = []
        for p in passes:
            sums.append(
                sum(value(p, name, rec) for name, rec in p["record"].items() if select(name))
            )
        return median(sums)

    def group_metric(key):
        return lambda p, name, rec: groups.get(f"{rec['pass_id']}|{name}", {}).get(key, 0.0)

    for p in passes:
        for rec in p["record"].values():
            rec["pass_id"] = p["id"]
    python_key = "sql:time to run Python workers"
    for mod in spec.REPORT_MODULES + spec.CURATION_MODULES:
        sel = lambda name, mod=mod: module_of.get(name) == mod  # noqa: E731
        out[f"{mod}.s"] = per_pass(sel, lambda p, n, r: r["s"])
        out[f"{mod}.call_s"] = per_pass(sel, lambda p, n, r: r.get("call_s", 0.0))
        out[f"{mod}.jobs"] = per_pass(sel, lambda p, n, r: r.get("jobs", 0))
        out[f"{mod}.executor_cpu_s"] = per_pass(sel, group_metric("executor_cpu_s"))
        if mod not in spec.NO_SHUFFLE_MODULES:
            out[f"{mod}.shuffle_write_bytes"] = per_pass(sel, group_metric("shuffle_write_bytes"))
        if mod in spec.PYTHON_MODULES:
            out[f"{mod}.python_worker_s"] = per_pass(
                sel, lambda p, n, r: group_metric(python_key)(p, n, r) / 1e3
            )

    def adds(metric):
        def sel(name):
            op = runner.ops_by_name.get(name)
            return op is not None and metric in op.adds_to

        return sel

    for metric in (
        "sources.write_s", "sources.compact_s", "sources.range_read_s",
        "functions.upsert_latest_s",
        "functions.scd2_apply_s", "functions.write_with_metrics_s",
    ):
        out[metric] = per_pass(adds(metric), lambda p, n, r: r["s"])
    every = lambda name: True  # noqa: E731
    written = per_pass(every, lambda p, n, r: r.get("bytes_written", 0))
    read = per_pass(every, lambda p, n, r: r.get("input_bytes", 0))
    out["jvm.jit_cpu_s"] = per_pass(every, lambda p, n, r: r["jit_cpu"])
    out["jvm.gc_cpu_s"] = per_pass(every, lambda p, n, r: r["gc_cpu"])
    out["sources.bytes_written"] = written
    out["sources.files_written"] = per_pass(every, lambda p, n, r: r.get("files_written", 0))
    out["sources.write_amp"] = written / read if read else 0.0
    out["sources.files_read"] = per_pass(
        lambda n: n == "range_read",
        group_metric("sql:number of files read"),
    )
    st = stream_stats(passes)
    out["streaming.batches"] = st["batches"]
    out["streaming.batch_p50_s"] = (st["p50"], "s", st["samples"])
    out["streaming.add_batch_s"] = st["add"]
    out["streaming.commit_s"] = st["commit"]
    out["streaming.state_commit_s"] = st["state_commit"]
    out["streaming.state_rows"] = st["state_rows"]
    fig = lambda name: name == "figures"  # noqa: E731
    out["sinks.figures_s"] = per_pass(fig, lambda p, n, r: r["s"])
    out["sinks.figures.jobs"] = per_pass(fig, lambda p, n, r: r.get("jobs", 0))
    units = {name: unit for name, unit, *_ in spec.PER_LAYER}
    return {
        k: (v if isinstance(v, tuple) else (v, units[k], n_pass)) for k, v in out.items()
    }


def run(args, work: str) -> tuple[dict, Runner]:
    from perfbench import eventlog

    t_start = time.monotonic() - proctree.process_age_s()
    steal0 = proctree.cpu_times()
    runner = Runner(args, work)
    runner.load1 = proctree.load1()
    try:
        runner.setup()
        runner.ops_by_name = {op.name: op for ch in runner.chains for op in ch}
        setup_s = time.monotonic() - t_start
        if not args.trace:
            passes = runner.timed_passes(False)
        else:
            # traced passes (event log on, a job group per operation),
            # then the same passes untraced in a new context of the same
            # JVM (the untraced phase runs in the warmer JVM, which biases
            # trace.overhead up a little)
            passes = runner.timed_passes(True)
            scan_s = [runner.scan_floor()]
            runner.spark.stop()
            groups = eventlog.group_totals(eventlog.find_log(os.path.join(work, "eventlog")))
            runner.start_session(trace=False)
            runner.ctx.spark = runner.spark
            untraced_pass = median([p["wall"] for p in runner.timed_passes(False, 1000)])
        for i, p in enumerate(passes):
            p["id"] = i
        runner.pass_walls = [p["wall"] for p in passes]
        runner.cpu_s = op_median_sum(passes, "cpu"), len(passes)
        runner.op_s, runner.op_cpu = (
            {
                name: [round(p["record"][name][key], 3) for p in passes]
                for name in runner.ops_by_name
            }
            for key in ("s", "cpu")
        )
        runner.stream = stream_stats(passes)
        runner.op_jobs = {
            name: [p["record"][name].get("jobs") for p in passes]
            for name in runner.ops_by_name
        }
        if args.trace:
            overhead = median(runner.pass_walls) / untraced_pass
            metrics = per_layer(runner, passes, groups, scan_s, overhead)
        else:
            metrics = end_to_end(runner, passes, setup_s)
    finally:
        s1 = proctree.cpu_times()
        runner.steal = (s1[0] - steal0[0]) / max(1, s1[1] - steal0[1])
        runner.monitor.stop()
        shutdown(runner.spark)
    return metrics, runner


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    started = set(proctree.tree(os.getpid())) - {os.getpid()}
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while started and time.monotonic() < deadline:
        started = {pid for pid in started if os.path.exists(f"/proc/{pid}")}
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="bench")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "bigdata_gamedb_etl_spark")):
        print(
            f"perfbench: no engine package under {root}; run from the source root",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every temporary file of this process, the JVM and Python workers
    # lands under the work directory, which is removed at the end
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    try:
        metrics, runner = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for name, (value, unit, n) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit} (n={n})")
    attempted, failed = runner.attempted, runner.failed
    print(f"metric error_rate = {failed / max(1, attempted):.6g} ratio (n={attempted})")
    print(f"metric peak_rss_mb = {runner.monitor.peak_rss / 2**20:.6g} MB (n=1)")
    print(f"metric cpu_s = {runner.cpu_s[0]:.6g} s (n={runner.cpu_s[1]})")
    st = runner.stream
    if st["samples"]:
        print(f"metric stream_batch_p50_s = {st['p50']:.6g} s (n={st['samples']})")
        if st["tail"] is None:
            print(
                f"metric stream_batch_tail_s = n/a (needs 20 batches, n={st['samples']})"
            )
        else:
            value, pct = st["tail"]
            print(
                f"metric stream_batch_tail_s = {value:.6g} s at p{pct} (n={st['samples']})"
            )
    print(
        f"setup session {runner.session_start_s:.2f} s, registry "
        f"{runner.registry_load_s:.2f} s, staging {runner.staging_s:.2f} s, "
        f"checks {runner.checks_s:.2f} s"
    )
    print("pass_walls " + json.dumps([round(w, 3) for w in runner.pass_walls]))
    print("op_s " + json.dumps(runner.op_s))
    print("op_cpu " + json.dumps(runner.op_cpu))
    if args.trace:
        print("jobs " + json.dumps(runner.op_jobs))
    for line in runner.failures:
        print(f"failed {line}")
    for line in runner.notes:
        print(f"note {line}")
    print(
        "provenance "
        + json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "scale": args.scale,
                "nproc": runner.nproc,
                "master": runner.master,
                "steal_fraction": round(runner.steal, 4),
                "load1_before": runner.load1,
                "data_fingerprint": getattr(runner, "fingerprint", None),
                "git_commit": git_commit(root),
                "params": {k: v for k, v in runner.params.items() if k != "stream_cuts"},
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
