"""Benchmark runner: DET requests with cold and warm caches, and an
operator query suite, against the unmodified ``det_module_spark``.

    python3 perfbench/run.py --workload det_cold --seed 1 --seconds 8 --trace 0

One process, one client thread, ``local[<cpus>]``. The run sets up
(session, generated inputs, warm-up until steady), then runs whole
cycles of operations until ``--seconds`` have passed, then checks
every output against an independent DuckDB oracle. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the full record with provenance. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates untraced and traced
cycles for twice as long, and reports the per-layer metrics plus the
tracing overhead. perfbench/METRICS.md describes the workloads, the metrics
and which layer should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("det_cold", "det_warm", "query_suite")
END_TO_END = {"setup_s": "s", "request_p50_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}
# Request layers: (metric, key in trace.layer_totals, unit).
REQUEST_LAYERS = [
    ("cache.get_s", "cache.get_s", "s"),
    ("cache.get.calls", "cache.get.calls", "count"),
    ("cache.get.jobs", "cache.get.jobs", "count"),
    ("cache.missing_s", "cache.missing_s", "s"),
    ("cache.hit_ratio", "hit_ratio", "ratio"),
    ("cache.manifest_versions", "manifest_versions", "count"),
    ("runner.self_s", "runner.self_s", "s"),
    ("extract_types.plan_s", "extract_types.plan_s", "s"),
    ("extract_types.calls", "extract_types.plan.calls", "count"),
    ("msr.plan_s", "msr.plan_s", "s"),
    ("cache.put_many_s", "cache.put_many_s", "s"),
    ("cache.put_many.jobs", "cache.put_many.jobs", "count"),
    ("cache.put_many.tasks", "cache.put_many.tasks", "count"),
    ("cache.put_many.executor_run_s", "cache.put_many.executor_run_s", "s"),
    ("cache.bytes_written", "cache.put_many.bytes_written", "bytes"),
    ("planner.expand_s", "planner.expand_s", "s"),
    ("merge.plan_s", "merge.plan_s", "s"),
    ("sinks.csv_s", "sinks.csv_s", "s"),
    ("sinks.csv.shuffle_bytes", "sinks.csv.shuffle_bytes", "bytes"),
    ("sinks.doc_s", "sinks.doc_s", "s"),
    ("sinks.zip_s", "sinks.zip_s", "s"),
    ("spark.jobs", "spark.jobs", "count"),
    ("spark.tasks", "spark.tasks", "count"),
    ("spark.executor_cpu_s", "spark.executor_cpu_s", "s"),
    ("spark.driver_idle_s", "spark.driver_idle_s", "s"),
]
SETUP_LAYERS = [("session.start_s", "s"), ("tables.load_s", "s"), ("warmup_s", "s")]
TRACE_LAYERS = [("trace.overhead_pct", "%"), ("trace.own_s", "s")]
# Warm-up rule: repeat an operation at least a minimum number of times
# and until its cost moves by less than STEADY_TOL from its previous
# run. In one JVM a query-suite pass went 113, 93, 80 s and a cold
# request 65, 43, 45 s. On 4 vCPUs cycles of the det_cold shapes went
# 1.21, 0.69, 0.65, 0.62 and 1.07, 0.64, 0.59 s per item: a cycle runs
# many jobs, and the third is steady. A query is one run: bt_strengths
# went 6.8, 3.9, 3.4, 2.7, 2.2, 2.1 s and pagerank 4.6, 2.3, 1.7, 1.5,
# 1.5 s, with plateaus (1.91, 1.89) that stopped a 3-run minimum before
# the drift ended, so queries run at least 5 times. A DET request never
# repeats (its items would be cached), so there the operation is a
# cycle of warm-up requests with the timed shapes (every extract type,
# MSR and release items) under another tag, and the cost compared is
# seconds per item. The budget bounds set-up time on a slow host.
STEADY_TOL = 0.1
WARMUP_MIN_CYCLES, WARMUP_MIN_QUERY_RUNS, WARMUP_MAX = 3, 5, 6
WARMUP_BUDGET_S = 45.0


def per_layer_names() -> list[tuple[str, str]]:
    from perfbench.suite import QUERIES

    out = [(m, u) for m, _, u in REQUEST_LAYERS]
    for q in QUERIES:
        out += [(f"query.{q}_s", "s"), (f"query.{q}.jobs", "count"),
                (f"query.{q}.driver_idle_s", "s")]
    return out + SETUP_LAYERS + TRACE_LAYERS


def process_start() -> float:
    """Wall-clock start of this process (falls back to import time)."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return _IMPORTED


_IMPORTED = time.time()


def steal_ticks() -> int:
    """Host CPU time stolen from this machine so far (clock ticks)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """SHA-1 over the engine's sources: identifies the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha1()
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for root, dirs, names in os.walk(os.path.join(REPO, "det_module_spark")):
        dirs.sort()
        files += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    for p in files:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(REPO):
        return None
    return lines[1]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak RSS (VmHWM)."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return kb / 1024.0


class Run:
    """One benchmark process: its private directories, Spark session,
    tracer and counters."""

    def __init__(self, args):
        self.args = args
        self.t_start = process_start()
        base = os.path.join(REPO, ".perfbench")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="run-", dir=base)
        self.setup: dict[str, float] = {}
        self.retries = 0
        self.problems: list[str] = []
        self.tracer = None
        self.wraps: list[tuple] = []  # (owner, attr, span name[, after]) to trace
        self.counters = None
        self.spark = None
        self.pids: list[int] = []

    # -- environment ----------------------------------------------------

    def start_session(self) -> None:
        t0 = time.time()
        tmp = self.sub("tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # Python workers are started by the JVM and inherit this
        # environment; without the repo on their path they cannot
        # import det_module_spark outside the repo root.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.sub("warehouse")
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            # a fixed young generation: with G1 sizing it adaptively, the
            # peak RSS of the same work swung by ~15 % from run to run
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xmn384m' "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "pyspark-shell")
        if REPO not in sys.path:
            sys.path.insert(0, REPO)
        from det_module_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.pids = [os.getpid(), jvm]  # the driver JVM and this process
        self.setup["session.start_s"] = time.time() - t0

    def reset_peak_rss(self) -> None:
        """Collect garbage in both processes (a full GC lets the JVM
        give back heap that set-up grew), then restart the kernel's
        peak-RSS counter (VmHWM) of each at its current RSS, so a later
        peak covers only what ran since."""
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def sub(self, name: str) -> str:
        p = os.path.join(self.dir, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.restore()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.dir))  # only if no other run uses it
        except OSError:
            pass

    # -- retries ----------------------------------------------------------

    def attempt(self, fn):
        """Run ``fn``; retry once only on the engine's transient
        worker-spawn signature, and count the retry."""
        from det_module_spark.streaming.replay import _is_transient_worker_failure

        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - one gated retry
            if not _is_transient_worker_failure(e):
                raise
            self.retries += 1
            print(f"# retry after transient worker failure: {str(e)[:160]}", file=sys.stderr)
            return fn()

    # -- tracing ------------------------------------------------------------

    def install_tracer(self, det: bool) -> None:
        """Create the tracer; ``tracing(True)`` then patches the layers in."""
        from perfbench.trace import SparkCounters, Tracer

        self.counters = SparkCounters(self.spark)
        self.tracer = Tracer(self.counters.next_job_id)
        if not det:
            return
        import det_module_spark.plans.runner as runner
        import det_module_spark.sources.sinks as sinks
        from det_module_spark.plans.cache import CacheManifest

        def written(span, paths):
            span.attrs["bytes_written"] = sum(
                os.path.getsize(os.path.join(root, n))
                for p in paths for root, _, names in os.walk(p) for n in names)

        self.wraps = [
            (runner.Engine, "run_request", "runner"),
            (runner, "expand_request", "planner.expand"),
            (runner, "items_df", "planner.items_df"),
            (runner, "zonal_extract", "extract_types.plan"),
            (runner, "even_split_allocation", "msr.plan"),
            (runner, "msr_surface", "msr.plan"),
            (runner, "merge_extracts", "merge.plan"),
            (CacheManifest, "missing", "cache.missing"),
            (CacheManifest, "get", "cache.get"),
            (CacheManifest, "put_many", "cache.put_many", written),
            (sinks, "write_merged_csv", "sinks.csv"),
            (sinks, "build_documentation", "sinks.doc"),
            (sinks, "package_bundle", "sinks.zip"),
        ]

    def tracing(self, on: bool) -> None:
        """Patch the traced layers in (on) or restore them (off)."""
        self.tracer.restore()
        if on:
            for w in self.wraps:
                self.tracer.wrap(*w)

    def layer_rows(self, roots) -> list[dict[str, float]]:
        from perfbench.trace import layer_totals

        self.counters.drain()
        return [layer_totals(r, self.counters.stages) for r in roots]


def steady(costs: list[float], min_runs: int) -> bool:
    if len(costs) >= WARMUP_MAX:
        return True
    return len(costs) >= min_runs and abs(costs[-1] - costs[-2]) <= STEADY_TOL * costs[-2]


def warm_until_steady(ops: dict, run_op, min_runs: int, budget_s: float) -> dict:
    """Run every operation in ``ops`` in rounds, dropping each from the
    rounds once ``steady``; ``run_op(op)`` returns the op's cost. Once
    ``budget_s`` is spent, the round in progress is the last one and
    the ops still drifting are listed under ``unsteady``."""
    costs = {name: [] for name in ops}
    pending = list(ops)
    t0 = time.time()
    while pending and time.time() - t0 < budget_s:
        for name in pending:
            costs[name].append(run_op(ops[name]))
        pending = [n for n in pending if not steady(costs[n], min_runs)]
    return {"costs": costs, "unsteady": pending}


def timed(run: Run, cycle, seconds: float) -> dict:
    """The timed pass: whole ``cycle(traced)``s until ``seconds`` have
    passed. With ``--trace 1`` cycles alternate untraced and traced for
    twice as long, so the JVM's residual drift falls on both alike and
    the tracing overhead compares like with like. Set-up ends here; the
    peak RSS covers this pass only (not set-up or the checks)."""
    trace = bool(run.args.trace)
    records, failed = {False: [], True: []}, {False: 0, True: 0}
    run.reset_peak_rss()
    result = {"t_first_timed": time.time(), "steal0": steal_ticks()}
    t0 = time.perf_counter()
    for k in itertools.count():
        traced = trace and k % 2 == 1
        if trace:
            run.tracing(traced)
        done, n_failed = cycle(traced)
        records[traced] += done
        failed[traced] += n_failed
        if time.perf_counter() - t0 >= seconds * (1 + trace) and (traced or not trace):
            break
    result["wall"] = time.perf_counter() - t0
    result["peak_rss_mb"] = peak_rss_mb(run.pids)
    result["steal1"] = steal_ticks()
    if trace:
        run.tracing(False)
    result["records"], result["failed"] = records[False], failed[False]
    result["traced"], result["traced_failed"] = records[True], failed[True]
    return result


# -- DET workloads ----------------------------------------------------------


def det_workload(run: Run, warm: bool) -> dict:
    from perfbench import inputs
    from perfbench.det import DetBench, check_bundle
    from perfbench.suite import oracle_connection

    seed, seconds = run.args.seed, run.args.seconds
    if warm:
        pool = inputs.warm_pool(seed)
        warmup_stream = inputs.warm_stream(seed, pool, WARMUP_MAX * len(inputs.SHAPES), "u")
        stream = inputs.warm_stream(seed, pool, 64)
        rel = inputs.release_datasets(pool)
    else:
        pool = []
        warmup_stream = inputs.cold_stream(seed, WARMUP_MAX * len(inputs.SHAPES), "u")
        stream = inputs.cold_stream(seed, 64)
        rel = inputs.release_datasets(warmup_stream + stream)
    t0 = time.time()
    paths = inputs.write_det_inputs(seed, run.sub("inputs"), rel)
    bench = DetBench(run.spark, paths)
    bench.load()
    engine = bench.engine(run.sub("cache"))
    for req in pool:
        run.attempt(lambda req=req: engine.run_request(req))
    run.setup["tables.load_s"] = time.time() - t0

    def one(req, root_name=None):
        out = run.sub(os.path.join("bundles", req["_id"]))
        versions = len(engine.cache.versions()) if root_name else 0
        span = run.tracer.open(root_name) if root_name else None
        t = time.perf_counter()
        try:
            res, artifacts = run.attempt(lambda: DetBench.run(engine, req, out))
        finally:
            dt = time.perf_counter() - t
            if span is not None:
                run.tracer.close(span)
        if span is not None:
            span.attrs["hit_ratio"] = 1 - len(res.missing) / len(res.items)
            span.attrs["manifest_versions"] = versions
        return {"request": req, "s": dt, "items": len(res.items),
                "executed": len(res.missing), "artifacts": artifacts, "span": span}

    warm_it = iter(warmup_stream)

    def warm_cycle(_):
        done = [one(next(warm_it)) for _ in inputs.SHAPES]
        return sum(r["s"] for r in done) / sum(r["items"] for r in done)

    t0 = time.time()
    warmup = warm_until_steady({"cycle": None}, warm_cycle, WARMUP_MIN_CYCLES, WARMUP_BUDGET_S)
    run.setup["warmup_s"] = time.time() - t0
    run.setup["warmup_costs"] = warmup
    it = iter(stream)

    def cycle(traced):
        records, failed = [], 0
        for pos in range(len(inputs.SHAPES)):  # request k has shape k % len(SHAPES)
            req = next(it)
            try:
                records.append({**one(req, "request" if traced else None), "op": f"shape{pos}"})
            except Exception as e:  # noqa: BLE001 - a failed request is counted
                failed += 1
                run.problems.append(f"{req['_id']}: {type(e).__name__}: {str(e)[:200]}")
        return records, failed

    if run.args.trace:
        run.install_tracer(det=True)
    result = timed(run, cycle, seconds)
    # output checks, outside the timed region
    con = oracle_connection({"cells": paths["cells"], "locations": paths["locations"]})
    wrong = 0
    for rec in result["records"] + result["traced"]:
        problems = check_bundle(con, rec["request"], rec["artifacts"])
        expect_executed = 0 if warm else rec["items"]
        if rec["executed"] != expect_executed:
            problems.append(f"{rec['executed']} of {rec['items']} items executed, expected {expect_executed}")
        if problems:
            wrong += 1
            run.problems.append(f"{rec['request']['_id']}: " + "; ".join(problems[:3]))
    result["wrong"] = wrong
    result["ops"] = [f"shape{pos}" for pos in range(len(inputs.SHAPES))]
    result["params"] = {
        "cells_rows": 600_000, "shapes": inputs.SHAPES,
        "boundary_tiers": inputs.BOUNDARY_TIERS, "pool_requests": len(pool),
    }
    return result


# -- query suite -------------------------------------------------------------


def query_workload(run: Run) -> dict:
    import numpy as np

    import __spark_entry__ as entry
    from det_module_spark.sources.tables import load_table
    from perfbench import inputs
    from perfbench.suite import QUERIES, check_query, load_check_parity, oracle_connection

    seed, seconds = run.args.seed, run.args.seconds
    t0 = time.time()
    sf_dir = run.sub("tables")
    tables = inputs.write_suite_tables(seed, sf_dir)
    for name in tables:
        load_table(run.spark, sf_dir, name).persist().count()
    run.setup["tables.load_s"] = time.time() - t0
    registry = entry.queries()
    order = [QUERIES[i] for i in np.random.default_rng(seed).permutation(len(QUERIES))]

    def one(name, traced=False):
        span = run.tracer.open(f"query.{name}") if traced else None
        t = time.perf_counter()
        try:
            pdf = run.attempt(lambda: registry[name](run.spark, sf_dir).toPandas())
        finally:
            dt = time.perf_counter() - t
            if span is not None:
                run.tracer.close(span)
        return {"name": name, "op": name, "s": dt, "items": 1, "result": pdf, "span": span}

    t0 = time.time()
    warmup = warm_until_steady({n: n for n in order}, lambda n: one(n)["s"],
                               WARMUP_MIN_QUERY_RUNS, WARMUP_BUDGET_S)
    run.setup["warmup_s"] = time.time() - t0
    run.setup["warmup_costs"] = warmup

    def cycle(traced):
        records, failed = [], 0
        for name in order:
            try:
                records.append(one(name, traced))
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                failed += 1
                run.problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        return records, failed

    if run.args.trace:
        run.install_tracer(det=False)
    result = timed(run, cycle, seconds)
    parity = load_check_parity(REPO)
    con = oracle_connection(tables)
    oracles = entry.oracle_sql()
    wrong = 0
    for rec in result["records"] + result["traced"]:
        problems = check_query(parity, con, oracles[rec["name"]], rec["result"])
        if problems:
            wrong += 1
            run.problems.append(f"{rec['name']}: " + "; ".join(problems))
    result["wrong"] = wrong
    result["ops"] = QUERIES
    result["params"] = {"queries": QUERIES, "order": order,
                        "tables": {"lineitem": 60_000, "orders": 15_000}}
    return result


# -- reporting ---------------------------------------------------------------


def op_summary(r: dict) -> dict:
    return {"id": r["request"]["_id"] if "request" in r else r["name"],
            "op": r["op"], "s": r["s"], "items": r["items"]}


def best_of(records: list[dict]) -> dict[str, dict]:
    """Each operation's (query's or request shape's) fastest record
    over the cycles of a run. Host load comes in bursts of ~10 s
    (host CPU steal sampled every 2 s went 0, 4-6, 0 %) that only ever
    slow an operation down, so the fastest repeat is the least
    disturbed (bench.py compares rounds on its minimum for the same
    reason)."""
    best: dict[str, dict] = {}
    for r in records:
        if r["op"] not in best or r["s"] < best[r["op"]]["s"]:
            best[r["op"]] = r
    return best


def uncovered(ops: list[str], records: list[dict]) -> list[str]:
    """Operations with no successful record: their metrics do not exist."""
    return sorted(set(ops) - {r["op"] for r in records})


def end_to_end(run: Run, result: dict) -> dict[str, float]:
    """Over each operation's best repeat (``best_of``): the median
    turnaround, and items resolved per second of their summed time (an
    item is one query on query_suite)."""
    best = list(best_of(result["records"]).values())
    return {
        "setup_s": result["t_first_timed"] - run.t_start,
        "request_p50_s": statistics.median(r["s"] for r in best),
        "items_per_s": sum(r["items"] for r in best) / sum(r["s"] for r in best),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def per_layer(run: Run, result: dict) -> dict[str, float]:
    from perfbench.suite import QUERIES
    from perfbench.trace import attribute

    traced = result["traced"]
    out = {m: 0.0 for m, _ in per_layer_names()}
    roots = [r["span"] for r in traced]
    rows = run.layer_rows(roots)
    for metric, key, _ in REQUEST_LAYERS:
        if rows and run.args.workload != "query_suite":
            out[metric] = float(statistics.median([row.get(key, 0) for row in rows]))
    if run.args.workload == "query_suite":
        for q in QUERIES:
            mine = [r["span"] for r in traced if r["name"] == q]
            counters = [attribute(s, run.counters.stages) for s in mine]
            out[f"query.{q}_s"] = statistics.median([s.duration for s in mine])
            out[f"query.{q}.jobs"] = statistics.median([c["jobs"] for c in counters])
            out[f"query.{q}.driver_idle_s"] = statistics.median([c["driver_idle_s"] for c in counters])
    for name, _ in SETUP_LAYERS:
        out[name] = run.setup.get(name, 0.0)
    plain = sum(r["s"] for r in best_of(result["records"]).values())
    with_trace = sum(r["s"] for r in best_of(traced).values())
    out["trace.overhead_pct"] = 100.0 * (with_trace / plain - 1.0)
    out["trace.own_s"] = run.tracer.own_s
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("det_module_spark", "__spark_entry__.py", "tools/check_parity.py")
               if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: the engine sources are not in {REPO}: missing {missing}", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        run.start_session()
        if args.workload == "query_suite":
            result = query_workload(run)
        else:
            result = det_workload(run, warm=args.workload == "det_warm")
        gaps = uncovered(result["ops"], result["records"])
        if args.trace:
            gaps += uncovered(result["ops"], result["traced"])
        if gaps:
            print(f"perfbench: no successful run of {gaps}; problems: {run.problems[:5]}",
                  file=sys.stderr)
            return 1
        # a traced run's timed pass is half traced: it has no end-to-end figures
        if args.trace:
            values = per_layer(run, result)
            metrics = {k: {"value": values[k], "unit": u} for k, u in per_layer_names()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in end_to_end(run, result).items()}
        import pyspark

        attempted = (len(result["records"]) + result["failed"]
                     + len(result["traced"]) + result["traced_failed"])
        failed = result["failed"] + result["traced_failed"] + result["wrong"]
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "provenance": {
                "cpus": cpus(),
                "master": f"local[{cpus()}]",
                "pyspark": pyspark.__version__,
                "python": sys.version.split()[0],
                "commit": git_commit(),
                "source_sha1": source_digest(),
                "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            },
            "params": result["params"],
            "setup": run.setup,
            "per_layer" if args.trace else "end_to_end": {k: v["value"] for k, v in metrics.items()},
            "error_rate": failed / attempted,
            # share of the timed span's CPU time the host took away
            "steal_pct": 100.0 * (result["steal1"] - result["steal0"])
            / (os.sysconf("SC_CLK_TCK") * result["wall"] * cpus()),
            "retries": run.retries,
            "problems": run.problems[:20],
            "ops": [op_summary(r) for r in result["records"]],
            "ops_traced": [op_summary(r) for r in result["traced"]],
        }
        if args.workload == "query_suite":
            record["query_s"] = {q: r["s"] for q, r in best_of(result["records"]).items()}
            record["suite_s"] = sum(record["query_s"].values())
        print(json.dumps(record, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        run.close()


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    sys.exit(main())
