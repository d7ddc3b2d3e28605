#!/usr/bin/env python
"""Time registered queries with the bench's exact methodology
(``bench.time_query``: build_spark session, cold memos per run, noop
sink, median of N) — the per-query measurement loop of guide §1,
without paying for the whole bench.

Usage: python tools/time_queries.py [-n RUNS] [name ...]

Named queries run 3 times each by default. With no names it sweeps
every lazily-building registered query once (executes_on_build ops
are skipped unless conditional) — the whole-engine triage step; rank
candidates get confirmed with named runs afterwards.

Prints one line per query as it finishes, then one JSON record
(medians slowest first, errors, box canary before and after) so
numbers compare across sessions/boxes the same way BENCH JSON lines
do (sec / canary_ratio).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from clj_kinesis_to_firehose_spark import registry  # noqa: E402
from clj_kinesis_to_firehose_spark.session import build_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    n = None
    if args[:1] == ["-n"]:
        n = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_spark("kf-time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.queries()
    skip = registry.executes_on_build() - registry.conditionally_executing()
    names = args or [q for q in sorted(queries) if q not in skip]
    n = n or (3 if args else 1)
    canary_pre = bench.canary(spark)
    ratio = bench.canary_ratio(canary_pre)
    print(f"canary ratio {ratio} runs {canary_pre}", flush=True)
    times: dict[str, float] = {}
    errs: dict[str, str] = {}
    for name in names:
        try:
            runs = [
                round(bench.time_query(spark, queries[name], sf_dir), 3)
                for _ in range(n)
            ]
        except Exception as exc:  # noqa: BLE001 - survey tool
            errs[name] = repr(exc)[:200]
            print(f"{name} ERR {errs[name]}", flush=True)
            continue
        times[name] = statistics.median(runs)
        print(
            f"{name} median {times[name]}s "
            f"(normalized {round(times[name] / ratio, 3)}) runs {runs}",
            flush=True,
        )
    canary_post = bench.canary(spark)
    spark.stop()
    print(json.dumps({
        "sf_dir": sf_dir,
        "n_runs_per_query": n,
        "canary_pre_runs": canary_pre,
        "canary_post_runs": canary_post,
        "canary_ratio_pre": ratio,
        "canary_ratio_post": bench.canary_ratio(canary_post),
        "errors": errs,
        "times_desc": dict(sorted(times.items(), key=lambda kv: -kv[1])),
    }))
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
