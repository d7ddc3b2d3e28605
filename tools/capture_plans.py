#!/usr/bin/env python
"""Capture .explain('formatted') output for bench queries into
$PLANS_DIR/<query>_<suffix>.txt (optimization-round evidence;
PLANS_DIR defaults to plans/r16).

Usage: python tools/capture_plans.py before [query ...]
       python tools/capture_plans.py after  [query ...]

With no query names, captures every HEADLINE + EXTENDED bench query
that builds lazily (executes_on_build ops are skipped unless named
explicitly — building their DataFrame runs real jobs).

Jobs a query runs while its DataFrame is being BUILT (driver loops:
the pagerank iterations, the kmeans fit, the scaled BPE merges, eager
checkpoints) never appear in the registered DataFrame's own explain.
Spark's SQL status store keeps every execution's final physical plan
(with or without the UI), so the plans of the executions that ran
during the build land beside it in <query>_<suffix>_build.txt."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from clj_kinesis_to_firehose_spark import registry  # noqa: E402
from clj_kinesis_to_firehose_spark.session import build_spark  # noqa: E402


def build_with_plans(spark, fn, sf_dir: str):
    """Build ``fn(spark, sf_dir)``; return the DataFrame and
    ``(execution id, description, final physical plan)`` of every SQL
    execution that ran during the build, in execution order."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    n0 = store.executionsCount()
    last = store.executionsList(n0 - 1, 1).apply(0).executionId() if n0 else -1
    df = fn(spark, sf_dir)
    # the store is fed by the asynchronous listener bus: drain it so the
    # build's executions are recorded with their final (AQE) plans
    bus.waitUntilEmpty()
    # ascending by id; past spark.sql.ui.retainedExecutions the store
    # evicts the oldest, so the build's executions are picked by id
    execs = store.executionsList()
    built = []
    for i in reversed(range(execs.size())):
        e = execs.apply(i)
        if e.executionId() <= last:
            break
        built.append(
            (e.executionId(), e.description(), e.physicalPlanDescription())
        )
    return df, built[::-1]


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.environ.get("PLANS_DIR") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r16")
    os.makedirs(outdir, exist_ok=True)
    spark = build_spark("kf-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.queries()
    explicit = bool(names)
    if not names:
        names = [n for n in bench.HEADLINE + bench.EXTENDED
                 if n not in registry.executes_on_build()
                 or n in registry.conditionally_executing()]
    for name in names:
        if name not in queries:
            print(f"SKIP {name}: not registered")
            continue
        if (not explicit and name in registry.executes_on_build()
                and name not in registry.conditionally_executing()):
            print(f"SKIP {name}: executes_on_build")
            continue
        try:
            df, built = build_with_plans(spark, queries[name], sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"WROTE {path} ({len(plan.splitlines())} lines)")
            if built:
                path = os.path.join(outdir, f"{name}_{suffix}_build.txt")
                with open(path, "w") as fh:
                    for eid, desc, bplan in built:
                        fh.write(f"== execution {eid}: {desc} ==\n{bplan}\n\n")
                print(f"WROTE {path} ({len(built)} build-time executions)")
        except Exception as e:  # capture everything it can
            print(f"ERROR {name}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
