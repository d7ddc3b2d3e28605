"""Local stand-in for the driver's DuckDB-oracle compare.

Mirrors the documented gate (row-count + schema + order-insensitive
value-hash) as: identical sorted column names, identical row count,
and exact value equality after sorting rows by all columns. Floats
are compared bit-exact — if a float column flakes here, the fix is
rounding discipline in BOTH the Spark query and the oracle SQL
(SURVEY.md §5.3), never loosening this check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif isinstance(s.dtype, pd.DatetimeTZDtype):
            df[c] = s.dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
    df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def assert_frames_match(sp: pd.DataFrame, du: pd.DataFrame, name: str = "") -> None:
    assert sorted(sp.columns) == sorted(du.columns), (
        f"{name}: column mismatch spark={sorted(sp.columns)} oracle={sorted(du.columns)}"
    )
    assert len(sp) == len(du), f"{name}: row count spark={len(sp)} oracle={len(du)}"
    a, b = normalize(sp), normalize(du)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            ok = np.array_equal(av, bv, equal_nan=True)
        else:
            ok = (pd.isna(av) == pd.isna(bv)).all() and (
                (av == bv) | pd.isna(av)
            ).all()
        if not ok:
            bad = np.where(~((av == bv) | (pd.isna(av) & pd.isna(bv))))[0][:5]
            detail = "; ".join(
                f"row {i}: spark={av[i]!r} oracle={bv[i]!r}" for i in bad
            )
            raise AssertionError(f"{name}: column {c!r} differs — {detail}")
        # the driver hashes string renderings, so an int64-vs-float64
        # column pair ("23" vs "23.0") fails its gate even when values
        # compare equal numerically — e.g. DuckDB SUM(CASE…) returning
        # HUGEINT→float64. Catch that here instead of in CORRECTNESS:
        # fix is CAST(… AS BIGINT) in the oracle SQL.
        sa, sb = a[c].astype(str), b[c].astype(str)
        if not (sa == sb).all():
            i = int(np.where(sa != sb)[0][0])
            raise AssertionError(
                f"{name}: column {c!r} renders differently (dtype "
                f"spark={a[c].dtype} vs oracle={b[c].dtype}) — driver's "
                f"string-hash would mismatch: row {i}: {sa.iloc[i]!r} vs {sb.iloc[i]!r}"
            )


def assert_oracle_match(spark_df, sql: str, con, name: str = "") -> None:
    sp = spark_df.toPandas()
    du = con.execute(sql).fetchdf()
    assert_frames_match(sp, du, name=name)


#: DataFrame/write entry points whose invocation during a query
#: function's BUILD phase means the op executes on build (the
#: registry's ``executes_on_build`` contract). Kept in one place so
#: the correctness sweep's probe and any future audit agree on what
#: counts as an action.
_DF_ACTIONS = [
    "collect", "toPandas", "count", "first", "head", "take",
    "foreach", "foreachPartition", "localCheckpoint", "checkpoint",
    "toLocalIterator", "toArrow",
]
_WRITER_ACTIONS = [
    "save", "parquet", "orc", "json", "csv", "text",
    "saveAsTable", "insertInto",
]
#: RDD-level actions — invisible to the DataFrame patches but just as
#: build-time-executing: rdd.toDF([...names]) schema inference calls
#: rdd.first(), which runs a real job (r12 review finding —
#: sink_firehose_batched executes a delivery partition this way).
_RDD_ACTIONS = [
    "first", "collect", "count", "take", "reduce",
    "foreach", "foreachPartition", "saveAsTextFile",
]


def action_probe():
    """Context manager yielding the set of action entry points invoked
    while it is active — the empirical side of the registry's
    ``executes_on_build`` flag. Patches the CONCRETE classic DataFrame
    class (the abstract base's methods are overridden there and would
    never fire), the DataFrameWriter, and DataStreamWriter.start;
    restores everything on exit."""
    from contextlib import contextmanager

    import pyspark.rdd as rddm
    import pyspark.sql.readwriter as rwm
    import pyspark.sql.streaming.readwriter as srwm
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    @contextmanager
    def probe():
        hits: set[str] = set()
        patched: list[tuple[type, str, object]] = []

        def wrap(cls, name):
            orig = getattr(cls, name)

            def wrapper(*a, __orig=orig, __name=name, **kw):
                # (local/)checkpoint with eager=False runs NO job at
                # build — it only marks the plan for truncation on
                # first execution, so it is not an action in the
                # executes_on_build sense this probe exists to catch
                # (r15: the lazy-checkpoint lineage pins in tfidf/BPE)
                eager = kw.get("eager", a[1] if len(a) > 1 else True)
                if __name not in ("localCheckpoint", "checkpoint") or eager:
                    hits.add(__name)
                return __orig(*a, **kw)

            setattr(cls, name, wrapper)
            patched.append((cls, name, orig))

        for n in _DF_ACTIONS:
            if hasattr(ClassicDF, n):
                wrap(ClassicDF, n)
        for n in _WRITER_ACTIONS:
            wrap(rwm.DataFrameWriter, n)
        for n in _RDD_ACTIONS:
            if hasattr(rddm.RDD, n):
                wrap(rddm.RDD, n)
        wrap(srwm.DataStreamWriter, "start")
        try:
            yield hits
        finally:
            for cls, name, orig in patched:
                setattr(cls, name, orig)

    return probe()
