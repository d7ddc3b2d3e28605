#!/usr/bin/env python
"""Matched-canary A/B of a registered query under two values of a
module-level attribute it reads (a width, a cap, a threshold, an
iteration count): runs variant A and variant B INTERLEAVED in one
session — one discarded warm-up per variant, then N kept runs each,
alternating A,B,A,B so box phase hits both equally — and writes the
whole record as JSON.

Usage:
  python tools/ab_compare.py out.json QUERY MODULE ATTR A_VALUE B_VALUE [N]

A_VALUE/B_VALUE are Python literals, parsed with ``ast.literal_eval``
(e.g. "0", "1024", "True", "False"). The module attribute is restored
afterward. The timed action is ``bench.time_query``: cold memos, noop
sink, wall-clock.
"""

from __future__ import annotations

import ast
import importlib
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from clj_kinesis_to_firehose_spark import registry  # noqa: E402
from clj_kinesis_to_firehose_spark.session import build_spark  # noqa: E402


def main() -> int:
    out_path, qname, modname, attr, a_src, b_src = sys.argv[1:7]
    n = int(sys.argv[7]) if len(sys.argv) > 7 else 5
    a_val, b_val = ast.literal_eval(a_src), ast.literal_eval(b_src)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mod = importlib.import_module(modname)
    orig = getattr(mod, attr)
    spark = build_spark("kf-ab-compare")
    spark.sparkContext.setLogLevel("ERROR")
    fn = registry.queries()[qname]

    def one_run(val) -> float:
        setattr(mod, attr, val)
        return round(bench.time_query(spark, fn, sf_dir), 3)

    try:
        canary_pre = bench.canary(spark)
        spark.sparkContext.setJobDescription(f"ab:{qname}")
        warm = {"A": one_run(a_val), "B": one_run(b_val)}
        runs_a: list[float] = []
        runs_b: list[float] = []
        for _ in range(n):
            runs_a.append(one_run(a_val))
            runs_b.append(one_run(b_val))
        canary_post = bench.canary(spark)
    finally:
        setattr(mod, attr, orig)
        spark.stop()
    med_a, med_b = statistics.median(runs_a), statistics.median(runs_b)
    rec = {
        "query": qname,
        "switch": f"{modname}.{attr}",
        "A": a_src,
        "B": b_src,
        "n_kept_runs": n,
        "protocol": (
            "one session, one discarded warm-up per variant, then kept "
            "runs interleaved A,B,A,B (matched box phase); bench "
            "methodology per run (clear_memos, noop sink)"
        ),
        "warmup_discarded": warm,
        "runs_A": runs_a,
        "runs_B": runs_b,
        "median_A": med_a,
        "median_B": med_b,
        "ratio_B_over_A": round(med_b / med_a, 3) if med_a else None,
        "canary_pre_runs": canary_pre,
        "canary_post_runs": canary_post,
        "canary_ratio_pre": bench.canary_ratio(canary_pre),
        "canary_ratio_post": bench.canary_ratio(canary_post),
    }
    with open(out_path, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
