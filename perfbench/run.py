"""Closed-loop benchmark of the Φ engine and the operator registry.

    python3 perfbench/run.py --workload phi_cached --seed 1 --seconds 15 --trace 0

Run from the repository root.  One process, one client: the next query is
issued only after the previous one returns.  Spark runs on ``local[nproc]``
and every query is forced with the ``noop`` sink, as ``bench.py`` does.

Each run: starts a session, sets its workload up (layout write or
family-index warm-up, then untimed warm queries), cycles through the seed's
query pool in whole passes until ``--seconds`` have passed (the pass
running then finishes), checks distinct queries against DuckDB untimed, and
prints two JSON lines.  The first is a report: all end-to-end metrics with units
(``failed_frac`` and ``wrong_results`` included), the tail percentile and
its sample count n, the failed and wrong queries, and the host fingerprint.
The last is the result line ``{"correct", "attempted", "failed",
"metrics"}``: the metrics declared in ``BENCHMARK.json``, end-to-end ones
with ``--trace 0`` and per-layer ones with ``--trace 1``.  A traced run
turns on Spark's event log; its report also gives the tracing overhead
against the latest untraced run of the same workload in this checkout.

``--sf-dir`` overrides the workload's data directory.

Each run works in ``.perfbench_runs/<run>/`` (its own ``TMPDIR``, Spark
local dir and warehouse) and removes it at exit; per-run results stay in
``.perfbench_runs/results/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
from collections import Counter

import oracle
import probes

WORKLOADS = ("phi_view", "phi_cached", "registry_mix")
CHECK_BUDGET_S = 2.0  # untimed correctness pass per run
ORACLE_CAP_S = 3.0  # DuckDB's naive θ-join SQL for some specs runs for minutes
IDLE_WAIT_S = 60.0  # longest wait for a cancelled query's jobs to drain

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "queries_per_s": "1/s",
    "failed_frac": "ratio",
    "wrong_results": "count",
    "storage_held_mb": "MB",
    "storage_end_mb": "MB",
}
PER_LAYER = {
    "catalog.sales_df_s": "s",
    "catalog.construct_jobs": "count",
    "catalog.materialize_s": "s",
    "phi.parse_s": "s",
    "phi.compile_s": "s",
    "phi.gv.cond_agg": "count",
    "phi.gv.window": "count",
    "phi.gv.fact_window": "count",
    "phi.gv.group_join": "count",
    "phi.gv.join": "count",
    "plan.optimize_s": "s",
    "plan.exchanges": "count",
    "plan.scans": "count",
    "plan.broadcast_joins": "count",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.unattributed_jobs": "count",
    "warmup.wall_s": "s",
    "warmup.builder_sum_s": "s",
    "session_cache.entries": "count",
    "storage.blocks_after_setup": "count",
    "storage.blocks_end": "count",
}
# End-to-end metrics that are 0 or near it on a clean run: reported, not
# gated.  storage_held_mb stays near 0 on registry_mix, where each refresh
# releases the generation it replaces; storage_end_mb, the whole session's
# cached storage at the end, is gated in its place.
UNGATED = ("failed_frac", "wrong_results", "storage_held_mb")


class Step:
    """Times one layer call and labels the Spark jobs it starts."""

    def __init__(self, sc, phase: str, sink: dict[str, float]):
        self.sc, self.phase, self.sink = sc, phase, sink
        self.seconds = 0.0

    def __enter__(self) -> Step:
        self.sc.setLocalProperty(probes.PHASE_PROP, self.phase)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self._t0
        self.sink[self.phase] = self.sink.get(self.phase, 0.0) + self.seconds


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least 10 samples
    beyond it, and never below the median: with 20 or fewer samples no
    percentile above the median qualifies, so the tail is the median."""
    xs = sorted(values)
    n = len(xs)
    rank = n - 10
    if rank <= n / 2:
        return statistics.median(xs), 50.0
    return xs[rank - 1], 100.0 * rank / n


def wait_idle(sc) -> None:
    """Wait until no job is active and no task runs.  A cancelled job leaves
    the tracker's active list before its tasks stop: tasks inside a loop
    that never checks for interrupts keep the cores busy, and the next
    query would queue behind them."""
    tracker = sc.statusTracker()
    jtracker = sc._jsc.sc().statusTracker()  # noqa: SLF001
    deadline = time.perf_counter() + IDLE_WAIT_S
    while time.perf_counter() < deadline and (
        tracker.getActiveJobsIds()
        or any(e.numRunningTasks() for e in jtracker.getExecutorInfos())
    ):
        time.sleep(0.05)


def run_query(spark, wl, query, n: int, trace: bool) -> dict:
    """Issue one query layer by layer under job group ``pb-<n>``; cancel the
    group once the workload's per-query limit passes."""
    sc = spark.sparkContext
    group = f"{probes.GROUP_PREFIX}{n}"
    times: dict[str, float] = {}
    sc.setJobGroup(group, query.label, interruptOnCancel=True)
    timed_out = threading.Event()

    def cancel() -> None:
        timed_out.set()
        sc.cancelJobGroup(group)

    timer = threading.Timer(wl.limit_s, cancel)
    timer.daemon = True
    error = None
    t0 = time.perf_counter()
    timer.start()
    try:
        df = wl.build(spark, query, lambda phase: Step(sc, phase, times))
        if trace:
            with Step(sc, "plan.optimize", times):
                plan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            if not query.shape:
                query.shape = probes.plan_shape(plan.toString())
        with Step(sc, "exec", times):
            df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # a failed query is counted, never fatal
        first_line = (str(exc).splitlines() or [""])[0]
        error = f"{type(exc).__name__}: {first_line[:200]}"
    finally:
        timer.cancel()
    latency = time.perf_counter() - t0
    sc.setLocalProperty(probes.PHASE_PROP, None)
    sc.setLocalProperty("spark.jobGroup.id", None)
    if timed_out.is_set() and error is None:
        error = "finished after its cancel"
    if error is not None:
        reason = "timeout" if timed_out.is_set() else "error"
        print(
            f"perfbench: FAILED {query.label} ({reason} after {latency:.1f}s): {error}; "
            f"strategies={list(query.strategies)} spec={query.text!r}",
            file=sys.stderr,
        )
    wait_idle(sc)
    return {"label": query.label, "ok": error is None, "latency": latency, "times": times}


def timed_loop(spark, wl, pool, seed: int, seconds: float, trace: bool) -> tuple[list, float]:
    """Closed loop in whole passes until ``seconds`` have passed (the pass
    running then finishes).  A pass issues the pool ``wl.rounds`` times,
    reshuffled each round; when ``seconds`` is shorter than one pass, a run
    is one pass, the same query sequence for a given seed on any host."""
    rng = random.Random(f"order:{seed}")
    results: list[dict] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(wl.rounds):
            order = list(pool)
            rng.shuffle(order)
            for q in order:
                results.append(run_query(spark, wl, q, len(results), trace))
    return results, time.perf_counter() - t0


def host_fingerprint(repo: str):
    """bench.py's host fingerprint helpers, loaded without running bench."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("perfbench_bench", os.path.join(repo, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.host_fingerprint_start, mod.host_fingerprint_finish


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def per_layer(results, pool, setup, storage_setup, storage_end, entries, events) -> dict:
    def med(phase: str) -> float:
        vals = [r["times"][phase] for r in results if phase in r["times"]]
        return statistics.median(vals) if vals else 0.0

    n = len(results)
    jobs, stages, tasks = events["jobs"], events["stages"], events["tasks"]
    strategies = Counter(s for q in pool for s in q.strategies)
    shape = Counter()
    for q in pool:
        shape.update(q.shape)
    out = {
        "catalog.sales_df_s": med("catalog"),
        "catalog.construct_jobs": jobs.get("catalog", 0) / n,
        "catalog.materialize_s": setup.get("catalog.materialize_s", 0.0),
        "phi.parse_s": med("parse"),
        "phi.compile_s": med("plan"),
        "plan.optimize_s": med("plan.optimize"),
        "registry.construct_s": med("construct"),
        "registry.construct_jobs": jobs.get("construct", 0) / n,
        "exec.run_s": med("exec"),
        "exec.jobs": jobs.get("exec", 0) / n,
        "exec.stages": stages.get("exec", 0) / n,
        "exec.tasks": tasks.get("exec", 0) / n,
        "exec.executor_run_s": events["executor_run_s"] / n,
        "exec.shuffle_read_mb": events["shuffle_read_mb"] / n,
        "exec.shuffle_write_mb": events["shuffle_write_mb"] / n,
        "exec.spill_mb": events["spill_mb"] / n,
        "exec.unattributed_jobs": jobs.get("unattributed", 0),
        "warmup.wall_s": setup.get("warmup.wall_s", 0.0),
        "warmup.builder_sum_s": setup.get("warmup.builder_sum_s", 0.0),
        "session_cache.entries": entries,
        "storage.blocks_after_setup": storage_setup[0],
        "storage.blocks_end": storage_end[0],
    }
    for s in ("cond_agg", "window", "fact_window", "group_join", "join"):
        out[f"phi.gv.{s}"] = strategies.get(s, 0)
    for k in ("plan.exchanges", "plan.scans", "plan.broadcast_joins"):
        out[k] = shape.get(k, 0)
    return out


def tracing_overhead(results_dir: str, workload: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end figures, against the untraced run of
    the same workload (same seed when there is one, else the latest)."""
    runs = []
    for path in glob.glob(os.path.join(results_dir, f"{workload}-s*-t0.json")):
        try:
            with open(path) as fh:
                runs.append((json.load(fh), os.path.getmtime(path)))
        except (OSError, ValueError):
            continue
    if not runs:
        return None
    base = max(runs, key=lambda r: (r[0]["seed"] == seed, r[1]))[0]
    return {
        "untraced_seed": base["seed"],
        **{k: traced[k] - base["end_to_end"][k] for k in ("setup_s", "query_p50_s", "queries_per_s")},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir")
    args = ap.parse_args(argv)

    repo = os.getcwd()
    if not os.path.isfile(
        os.path.join(repo, "ad_hoc_olap_query_processing_engine_spark", "__init__.py")
    ) or not os.path.isfile(os.path.join(repo, "bench.py")):
        print("perfbench: run from the repository root (engine package not found)", file=sys.stderr)
        return 2
    sys.path.insert(1, repo)
    import workloads

    wl = workloads.make(args.workload, args.sf_dir)
    if not os.path.isdir(wl.sf_dir):
        print(f"perfbench: data directory {wl.sf_dir} not found", file=sys.stderr)
        return 2

    runs_root = os.path.join(repo, ".perfbench_runs")
    run_dir = os.path.join(
        runs_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    tmp = os.path.join(run_dir, "tmp")
    events_dir = os.path.join(run_dir, "events")
    os.makedirs(tmp)
    os.makedirs(events_dir)
    # Python workers import the engine through PYTHONPATH (sys.path does not
    # reach them); TMPDIR gives the layout cache and Spark scratch a fresh
    # directory per run.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.chdir(run_dir)  # spark-warehouse, metastore_db, derby.log
    try:
        return run(args, repo, wl, run_dir, tmp, events_dir)
    finally:
        os.chdir(repo)
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, repo, wl, run_dir, tmp, events_dir) -> int:
    fp_start, fp_finish = host_fingerprint(repo)
    host0 = fp_start()
    wl.configure()
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    from ad_hoc_olap_query_processing_engine_spark.session import get_spark

    setup_parts: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf=conf,
    )
    setup_parts["session_s"] = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        setup = wl.prepare(spark, lambda phase: Step(sc, phase, {}))
        setup_parts.update(setup)
        for q in wl.warm_queries():
            warm = run_query(spark, wl, q, -1, False)
            if not warm["ok"]:
                raise RuntimeError(f"warm query {q.label} failed")
            setup_parts[f"{q.label}_s"] = warm["latency"]
        setup_s = time.perf_counter() - t0
        storage_setup = probes.storage(spark)

        t1 = time.perf_counter()
        pool = wl.pool(args.seed, spark)
        untimed = {"pool_s": time.perf_counter() - t1}
        results, wall = timed_loop(spark, wl, pool, args.seed, args.seconds, bool(args.trace))
        t_loop_end_ms = time.time() * 1e3
        t_loop_start_ms = t_loop_end_ms - wall * 1e3
        storage_end = probes.storage(spark)
        from ad_hoc_olap_query_processing_engine_spark.operators import session_cache

        entries = sum(len(c) for c in session_cache._CACHES.values())  # noqa: SLF001

        def collector(q):
            return lambda: wl.build(spark, q, lambda phase: Step(sc, phase, {})).toPandas()

        checks = [oracle.Check(q.label, collector(q), wl.oracle_sql(q)) for q in pool]
        # the budget covers part of the pool; the seed picks which part
        random.Random(f"checks:{args.seed}").shuffle(checks)
        from ad_hoc_olap_query_processing_engine_spark.sources import catalog

        t1 = time.perf_counter()
        verdict = oracle.run_checks(
            checks, wl.sf_dir, catalog.TABLES, CHECK_BUDGET_S, ORACLE_CAP_S, repo
        )
        untimed["check_s"] = time.perf_counter() - t1
    finally:
        t1 = time.perf_counter()
        stop_spark(spark)
    untimed["stop_s"] = time.perf_counter() - t1
    host = fp_finish(host0)

    lat = [r["latency"] for r in results if r["ok"]]
    failed = [r["label"] for r in results if not r["ok"]]
    # every query failed: report the limit (the result line is not correct)
    tail_s, tail_pct = tail(lat) if lat else (wl.limit_s, 50.0)
    e2e = {
        "setup_s": setup_s,
        "query_p50_s": statistics.median(lat) if lat else wl.limit_s,
        "query_tail_s": tail_s,
        "queries_per_s": len(lat) / wall,
        "failed_frac": len(failed) / len(results),
        "wrong_results": len(verdict["wrong"]),
        "storage_held_mb": storage_end[1] - storage_setup[1],
        "storage_end_mb": storage_end[1],
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf_dir": wl.sf_dir,
        "cpus": len(os.sched_getaffinity(0)),
        "end_to_end": e2e,
        "units": END_TO_END,
        "tail_percentile": tail_pct,
        "n": len(lat),
        "attempted": len(results),
        "timed_wall_s": wall,
        "distinct_queries": len(pool),
        "checked": verdict["checked"],
        "slow_oracle": verdict["slow_oracle"],
        "wrong": verdict["wrong"],
        "failed": failed,
        "latencies": [[r["label"], r["latency"]] for r in results],
        "setup_parts": setup_parts,
        "untimed_parts": untimed,
        "host": {
            "busy_frac": host.get("busy_frac"),
            "steal_frac": host.get("steal_frac"),
            "load1": host.get("loadavg_before", [None])[0],
        },
    }
    results_dir = os.path.join(repo, ".perfbench_runs", "results")
    os.makedirs(results_dir, exist_ok=True)
    if args.trace:
        logs = probes.event_log_files(events_dir)
        events = probes.read_event_log(logs, t_loop_start_ms, t_loop_end_ms)
        metrics = per_layer(results, pool, setup, storage_setup, storage_end, entries, events)
        units = PER_LAYER
        report["tracing_overhead"] = tracing_overhead(results_dir, args.workload, args.seed, e2e)
    else:
        metrics = {k: v for k, v in e2e.items() if k not in UNGATED}
        units = END_TO_END
    with open(
        os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
    ) as fh:
        json.dump(report, fh)
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": verdict["checked"] > 0 and not verdict["wrong"] and bool(lat),
                "attempted": len(results),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
