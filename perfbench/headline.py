"""The 14 headline queries through the operator layer: one timed pass,
checked against the queries' DuckDB oracles.

The list is the frozen ``HEADLINE`` set of the repository's ``bench.py``.
Each query is built and executed under its own Spark job group, so the
engine's job, stage and task counts are read per query from the status
tracker.
"""

from __future__ import annotations

import sys
import time

HEADLINE = (
    "join_star_multiway",
    "agg_groupby",
    "join_inner",
    "join_asof",
    "win_running_sum",
    "topk_per_group",
    "window_session",
    "agg_percentile",
    "dedup_exact",
    "dedup_near_minhash",
    "sim_topk_exact",
    "text_tfidf_topterms",
    "text_quality_score",
    "json_extract",
)
TABLES = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


def timed_pass(spark, sf_dir: str, order: list[str], tracer, parent=None) -> tuple[dict[str, float], list[str]]:
    """Build each query and execute it, collecting its result as Arrow,
    with the program's result memos cleared first, in ``order``; then
    check every result against its DuckDB oracle. Collecting rather
    than writing to the noop sink lets one execution be both timed and
    checked. Returns the ``operators.*`` metrics and the names of the
    queries that raised or differ from their oracle."""
    import duckdb

    from clj_kinesis_to_firehose_spark import registry

    queries, oracles = registry.queries(), registry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    sc = spark.sparkContext
    st = sc.statusTracker()
    m: dict[str, float] = {}
    tasks = 0
    digests: dict[str, tuple[int, str]] = {}
    failed = []
    for name in order:
        group = f"perfbench-{name}-{time.time_ns()}"
        sc.setJobGroup(group, name)
        registry.clear_memos()
        with tracer.span(f"query.{name}", parent) as sid:
            t0 = t1 = time.perf_counter()
            try:
                with tracer.span("build", sid):
                    df = queries[name](spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.span("execute", sid):
                    result = df.toArrow()
                t2 = time.perf_counter()
                digests[name] = _digest(con, result)
                del result
            except Exception as exc:  # a query that raises is a failed operation
                t2 = time.perf_counter()
                print(f"headline {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                failed.append(name)
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        m[f"operators.{name}.build_s"] = t1 - t0
        m[f"operators.{name}.exec_s"] = t2 - t1
        m[f"operators.{name}.jobs"] = len(jobs)
        tasks += sum(s.numTasks for s in stages if s)
    for key in ("build_s", "exec_s", "jobs"):
        m[f"operators.{key}"] = sum(m[f"operators.{n}.{key}"] for n in order)
    m["operators.tasks"] = tasks
    m["operators.query_total_s"] = m["operators.build_s"] + m["operators.exec_s"]

    with tracer.span("audit.headline", parent):
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, got in digests.items():
            want = _digest(con, con.execute(oracles[name]).arrow())
            if got != want:
                print(f"headline {name}: {got[0]} rows {got[1]} vs oracle {want[0]} rows {want[1]}", file=sys.stderr)
                failed.append(name)
    con.close()
    return m, failed


def _digest(con, table) -> tuple[int, str]:
    """Order-insensitive digest of a result: its rows as text, columns
    in name order, sorted, hashed. Time zones are dropped (both engines
    run in UTC) so both engines' timestamps print alike."""
    con.register("result", table)
    cols = []
    for name, dtype, *_ in con.execute("DESCRIBE result").fetchall():
        col = f'"{name}"'
        if "WITH TIME ZONE" in dtype:
            col = f"CAST({col} AS TIMESTAMP)"
        cols.append((name, f"COALESCE(CAST({col} AS VARCHAR), '<null>')"))
    row = " || '|' || ".join(expr for _, expr in sorted(cols))
    n, h = con.execute(f"SELECT COUNT(*), MD5(COALESCE(STRING_AGG(r, chr(10) ORDER BY r), '')) "
                       f"FROM (SELECT {row} AS r FROM result)").fetchone()
    con.unregister("result")
    return n, h
