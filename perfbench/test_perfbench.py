"""Self-checks of the benchmark's own pieces (only the time-limit check
starts a Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import phigen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
from ad_hoc_olap_query_processing_engine_spark.phi import parse_query  # noqa: E402
from ad_hoc_olap_query_processing_engine_spark.phi.planner import classify_gv  # noqa: E402

COLS = {"cust", "prod", "day", "month", "year", "state", "quant"}
DTYPES = {
    "cust": "string",
    "prod": "string",
    "day": "int",
    "month": "int",
    "year": "int",
    "state": "string",
    "quant": "int",
}
STRATEGIES = {"cond_agg", "window", "fact_window", "group_join", "join"}


def features(spec: str) -> set[str]:
    q = parse_query(spec.splitlines(), known_cols=COLS)
    g0 = frozenset(a.name for a in q.group0)
    out = {classify_gv(gv, q.group_attrs, DTYPES, g0).strategy for gv in q.gvs}
    if q.where:
        out.add("WHERE")
    if q.having is not None:
        out.add("HAVING")
    return out


@pytest.mark.parametrize("seed", range(20))
def test_pool_draw_covers_every_strategy_having_and_where(seed):
    seen: set[str] = set()
    for _, spec in phigen.pool_specs(seed):
        seen |= features(spec)
    assert seen >= STRATEGIES | {"WHERE", "HAVING"}, seen


def test_pool_cells_reach_their_strategy():
    for seed in range(50):
        for cell, (_, spec) in zip(phigen.CELLS, phigen.pool_specs(seed)):
            assert cell.strategy in features(spec), (cell, spec)


def test_pool_is_a_function_of_the_seed():
    assert phigen.pool_specs(7) == phigen.pool_specs(7)
    assert phigen.pool_specs(7) != phigen.pool_specs(8)


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 41)]
    value, pct = run.tail(xs)
    assert value == 30.0 and pct == 75.0
    assert sum(x > value for x in xs) == 10


def test_tail_is_the_median_when_too_few_samples():
    xs = [float(i) for i in range(1, 19)]
    assert run.tail(xs) == (9.5, 50.0)


def test_plan_shape_counts_nodes():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[prod#1])
   +- Exchange hashpartitioning(prod#1, 8), ENSURE_REQUIREMENTS
      +- BroadcastHashJoin [a#2], [b#3], Inner, BuildRight
         :- FileScan parquet [a#2] Batched: true
         +- BroadcastExchange HashedRelationBroadcastMode
            +- InMemoryTableScan [b#3]
   +- ReusedExchange [prod#1], Exchange hashpartitioning(prod#1, 8)"""
    assert probes.plan_shape(plan) == {
        "plan.exchanges": 1,
        "plan.scans": 2,
        "plan.broadcast_joins": 1,
    }


def test_declared_metrics_match_the_output():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    gated = {k for k in run.END_TO_END if k not in run.UNGATED}
    assert {m["name"] for m in bench["end_to_end"]} == gated
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    for m in bench["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_registry_pool_is_stratified_and_keeps_maintenance():
    import workloads

    for seed in range(5):
        names = [q.text for q in workloads.RegistryWorkload().pool(seed, None)]
        assert names[: len(workloads.MAINTENANCE)] == list(workloads.MAINTENANCE)
        assert not set(names) & set(workloads.INDEX_READERS)
        assert len(set(names)) == len(names) == len(workloads.MAINTENANCE) + sum(
            workloads.DRAWS.values()
        )
        fams = [n.split("_", 1)[0] for n in names[len(workloads.MAINTENANCE):]]
        assert {f: fams.count(f) for f in fams} == workloads.DRAWS


def test_stratified_sample_takes_one_per_stratum():
    import workloads

    items = [f"op{i:02d}" for i in range(12)]
    picks = workloads.stratified_sample(random.Random(3), items, 4)
    assert [items.index(p) // 3 for p in picks] == [0, 1, 2, 3]


def test_query_past_its_limit_is_cancelled_and_counted_failed():
    """The per-query limit cancels the query's job group, counts it failed,
    and returns only once its tasks have stopped."""
    import workloads
    from pyspark.sql import SparkSession

    class Endless:
        limit_s = 1.0

        def build(self, spark, query, step):
            return spark.range(0, 10**15, numPartitions=2).selectExpr("sum(id * id) AS s")

    spark = SparkSession.builder.master("local[2]").appName("perfbench-limit").getOrCreate()
    try:
        out = run.run_query(spark, Endless(), workloads.Query("endless", "endless"), 0, False)
        assert not out["ok"]
        assert 1.0 <= out["latency"] < run.IDLE_WAIT_S
        tracker = spark.sparkContext._jsc.sc().statusTracker()  # noqa: SLF001
        assert not any(e.numRunningTasks() for e in tracker.getExecutorInfos())
        assert not spark.sparkContext.statusTracker().getActiveJobsIds()
    finally:
        spark.stop()
