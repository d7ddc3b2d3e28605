"""Round-15 second-session additions: training-sequence geometry
(curation_r15.py) — greedy whole-doc packing, first-fit-decreasing
packing, length-bucketed batch assembly, and the five-law
padding-efficiency report."""

from __future__ import annotations

import pytest

from clj_kinesis_to_firehose_spark import registry
from clj_kinesis_to_firehose_spark.operators.curation_r15 import (
    BATCH_SIZE,
    LEN_BAND_WIDTH,
    PACK_BUCKET_SIZE,
    PACK_TOKEN_BUDGET,
)
from tests.conftest import SF_DIR

QUERIES = registry.queries()


@pytest.fixture(scope="module")
def greedy_rows(spark):
    """corpus_pack_greedy's collected output, shared across the law,
    FFD-comparison, stability, and report-consistency tests (one
    execution instead of four)."""
    return QUERIES["corpus_pack_greedy"](spark, SF_DIR).collect()


def test_pack_greedy_law(spark, greedy_rows):
    """The greedy-restart contract: (1) no sequence exceeds the budget
    unless it is a single oversize doc; (2) packing is MAXIMAL — the
    next sequence in the same bucket could not have fit into this one;
    (3) buckets bound the fold — doc ranges stay inside their bucket
    and no bucket folds more than PACK_BUCKET_SIZE docs."""
    rows = greedy_rows
    assert rows
    by_bucket: dict[int, list] = {}
    n_oversize = 0
    for r in rows:
        if r["oversize"]:
            n_oversize += 1
            assert r["n_docs"] == 1, r
            assert r["pad_tokens"] == 0, r
        else:
            assert r["n_tokens"] <= PACK_TOKEN_BUDGET, r
            assert r["pad_tokens"] == PACK_TOKEN_BUDGET - r["n_tokens"], r
        assert r["first_doc_id"] // PACK_BUCKET_SIZE == r["bucket"], r
        assert r["last_doc_id"] // PACK_BUCKET_SIZE == r["bucket"], r
        by_bucket.setdefault(r["bucket"], []).append(r)
    # the fixture's max per-doc cost exceeds the budget by design, so
    # the oversize branch runs on real data
    assert n_oversize >= 1
    for bucket, seqs in by_bucket.items():
        assert sum(r["n_docs"] for r in seqs) <= PACK_BUCKET_SIZE
        seqs.sort(key=lambda r: r["seq_id"])
        assert [r["seq_id"] for r in seqs] == list(range(len(seqs)))
        # maximality: the first doc of seq k+1 did not fit into seq k
        # (unless seq k was itself started by an oversize doc, whose
        # fill already exceeds the budget — then ANY next doc spills)
        costs = {}  # first-doc cost per seq, via n_docs==1 fast path
        for prev, nxt in zip(seqs, seqs[1:]):
            # reconstruct the spilled doc's cost bound: it must exceed
            # the remaining room of the previous sequence
            room = PACK_TOKEN_BUDGET - prev["n_tokens"]
            if nxt["n_docs"] == 1:
                assert nxt["n_tokens"] > room or prev["oversize"], (prev, nxt)
            else:
                # first doc of nxt costs at least n_tokens - (n_docs-1)*max
                # — too loose to pin exactly; the oracle hash already
                # proves the law, this branch just documents intent
                pass
        del costs


def test_pack_ffd_law(spark, greedy_rows):
    """First-fit-decreasing contract: same budget/bucket/oversize
    invariants as the greedy law, plus the efficiency motivation
    pinned ON THIS FIXTURE (an empirical regression check, not a
    theorem — FFD-vs-next-fit dominance is instance-dependent): FFD
    needs no more sequences than next-fit in any bucket here, and
    total padding does not exceed greedy's."""
    ffd = QUERIES["corpus_pack_ffd"](spark, SF_DIR).collect()
    greedy = greedy_rows
    assert ffd
    ffd_by_bucket: dict[int, list] = {}
    for r in ffd:
        if r["oversize"]:
            assert r["n_docs"] == 1 and r["pad_tokens"] == 0, r
        else:
            assert r["n_tokens"] <= PACK_TOKEN_BUDGET, r
        assert r["first_doc_id"] // PACK_BUCKET_SIZE == r["bucket"], r
        assert r["last_doc_id"] // PACK_BUCKET_SIZE == r["bucket"], r
        ffd_by_bucket.setdefault(r["bucket"], []).append(r)
    greedy_by_bucket: dict[int, list] = {}
    for r in greedy:
        greedy_by_bucket.setdefault(r["bucket"], []).append(r)
    assert set(ffd_by_bucket) == set(greedy_by_bucket)
    for b in ffd_by_bucket:
        assert len(ffd_by_bucket[b]) <= len(greedy_by_bucket[b]), b
        # same docs, same token mass — only the arrangement differs
        assert sum(r["n_tokens"] for r in ffd_by_bucket[b]) == sum(
            r["n_tokens"] for r in greedy_by_bucket[b]
        )
    assert sum(r["pad_tokens"] for r in ffd) <= sum(
        r["pad_tokens"] for r in greedy
    )


def test_pack_incremental_stability(spark, greedy_rows):
    """The maintenance law: the incremental composition equals the
    full repack sequence-for-sequence; 'kept' rows are byte-identical
    to the full packing on untouched buckets and carry zero arrival
    docs; every arrival doc lands in a 'repacked' bucket."""
    from clj_kinesis_to_firehose_spark.operators.curation_r15 import (
        PACK_BATCH_SPLIT,
    )

    inc = QUERIES["corpus_pack_incremental"](spark, SF_DIR).collect()
    full = greedy_rows
    key = lambda r: (r["bucket"], r["seq_id"])  # noqa: E731
    shared = (
        "n_docs n_tokens first_doc_id last_doc_id oversize pad_tokens".split()
    )
    full_by_key = {key(r): r for r in full}
    assert {key(r) for r in inc} == set(full_by_key)
    touched = {
        r["bucket"] for r in inc if r["status"] == "repacked"
    }
    for r in inc:
        f = full_by_key[key(r)]
        assert [r[c] for c in shared] == [f[c] for c in shared], (r, f)
        if r["status"] == "kept":
            assert r["n_new_docs"] == 0, r
            assert r["bucket"] not in touched
        assert (r["last_doc_id"] >= PACK_BATCH_SPLIT) <= (
            r["status"] == "repacked"
        ), r
    assert touched, "fixture must exercise the repack branch"
    assert any(r["status"] == "kept" for r in inc)


def test_pack_incremental_broadcasts_touched_set(spark):
    """The O(arrivals) contract in the plan: the touched-bucket set
    travels BROADCAST into both arms (anti-join to keep, semi-join to
    repack) and the pruning runs below the folds, so no corpus-keyed
    shuffle join exists and no bucket is folded only to be discarded
    (r15: a window-flag rewrite was measured SLOWER — it shuffled the
    corpus once per arm — so the broadcast-join shape is pinned)."""
    # static plan only (r15 ADVICE): both joins are hint-forced, so the
    # shape holds before execution — a noop write would run a SEPARATE
    # QueryExecution and df's own executedPlan would still be the
    # un-executed one, i.e. the write added runtime without making the
    # assertions observe the AQE-final plan
    df = QUERIES["corpus_pack_incremental"](spark, SF_DIR)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("BroadcastHashJoin") == 2, phys
    assert "LeftAnti" in phys and "LeftSemi" in phys
    assert "SortMergeJoin" not in phys


def test_batch_by_length_law(spark):
    """Batch-assembly contract: batches hold at most BATCH_SIZE rows
    with only the final batch of each (band, bucket) cohort smaller;
    padding arithmetic is internally consistent; banding bounds the
    per-row padding by LEN_BAND_WIDTH-1."""
    rows = QUERIES["corpus_batch_by_length"](spark, SF_DIR).collect()
    assert rows
    cohorts: dict[tuple, list] = {}
    for r in rows:
        assert 1 <= r["n_rows"] <= BATCH_SIZE
        assert r["pad_waste"] == r["padded_len"] * r["n_rows"] - r["n_tokens"]
        assert r["pad_waste"] <= (LEN_BAND_WIDTH - 1) * r["n_rows"], r
        cap = r["padded_len"] * r["n_rows"]
        assert r["pad_frac_u6"] == (r["pad_waste"] * 1_000_000) // cap
        cohorts.setdefault((r["band"], r["bucket"]), []).append(r)
    for members in cohorts.values():
        members.sort(key=lambda r: r["batch_id"])
        assert [r["batch_id"] for r in members] == list(range(len(members)))
        for r in members[:-1]:
            assert r["n_rows"] == BATCH_SIZE, r


def test_pack_report_consistency(spark, greedy_rows):
    """The report is a pure consumer: its four rows must equal the
    per-law relations' own aggregates, and the pad fraction is the
    exact integer floor-division of its own columns."""
    rows = {r["law"]: r for r in QUERIES["corpus_pack_report"](spark, SF_DIR).collect()}
    assert set(rows) == {
        "chunk_aligned", "pack_greedy", "batch_by_length",
        "pack_streaming", "pack_ffd",
    }
    for r in rows.values():
        assert r["pad_frac_u6"] == (
            r["pad_tokens"] * 1_000_000
        ) // (r["n_tokens"] + r["pad_tokens"])
    packs = greedy_rows
    assert rows["pack_greedy"]["n_units"] == len(packs)
    assert rows["pack_greedy"]["n_tokens"] == sum(p["n_tokens"] for p in packs)
    assert rows["pack_greedy"]["pad_tokens"] == sum(p["pad_tokens"] for p in packs)


def test_pack_folds_match_python_reference(spark):
    """Engine-independent law pin: both JVM folds reproduce a plain
    Python simulation of their packing law on seeded random cost
    arrays (one DataFrame, one action — not per-example round trips).
    This holds even if the DuckDB oracle and the Spark plan drifted
    in the SAME direction, which the hash compare cannot see."""
    import random

    from pyspark.sql import functions as F

    from clj_kinesis_to_firehose_spark.operators.curation_r15 import (
        PACK_TOKEN_BUDGET,
        _ffd_fold,
        _pack_fold,
    )

    rng = random.Random(1537)
    cases = [
        [rng.randint(1, PACK_TOKEN_BUDGET + 30) for _ in range(rng.randint(1, 40))]
        for _ in range(60)
    ]

    def py_next_fit(costs):
        seq, fill, out = 0, 0, []
        for did, c in enumerate(costs):
            if fill > 0 and fill + c > PACK_TOKEN_BUDGET:
                seq, fill = seq + 1, c
            else:
                fill += c
            out.append((did, c, seq))
        return out

    def py_first_fit_decreasing(costs):
        order = sorted(range(len(costs)), key=lambda i: (-costs[i], i))
        fills, out = [], []
        for i in order:
            c = costs[i]
            j = next(
                (k for k, f in enumerate(fills) if f + c <= PACK_TOKEN_BUDGET),
                None,
            )
            if j is None:
                j = len(fills)
                fills.append(c)
            else:
                fills[j] += c
            out.append((i, c, j))
        return out

    df = spark.createDataFrame(
        [(ci, [(did, c) for did, c in enumerate(costs)]) for ci, costs in enumerate(cases)],
        "case_id int, arr array<struct<doc_id:bigint,cost:bigint>>",
    )
    rows = df.select(
        "case_id",
        _pack_fold(F.col("arr")).alias("nf"),
        _ffd_fold(
            F.array_sort(
                F.transform(
                    F.col("arr"),
                    lambda s: F.struct(
                        (-s["cost"]).alias("negcost"),
                        s["doc_id"],
                        s["cost"],
                    ),
                )
            )
        ).alias("ffd"),
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        costs = cases[r["case_id"]]
        got_nf = [(e["doc_id"], e["cost"], e["seq"]) for e in r["nf"]]
        assert got_nf == py_next_fit(costs), (r["case_id"], got_nf)
        got_ffd = [(e["doc_id"], e["cost"], e["seq"]) for e in r["ffd"]]
        assert got_ffd == py_first_fit_decreasing(costs), (
            r["case_id"],
            got_ffd,
        )


def test_pack_plan_has_no_window_and_no_python(spark):
    """The pack fold's scale contract in the plan: the greedy
    recurrence compiles to a JVM higher-order aggregate over bucketed
    groups — no window (ergo no corpus-global sort) and no Python
    stage anywhere."""
    df = QUERIES["corpus_pack_greedy"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition" not in plan
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys


def test_batch_plan_windows_on_cohort(spark):
    """The batch window partitions by the (band, bucket) cohort —
    never a global or band-only sort."""
    df = QUERIES["corpus_batch_by_length"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(band" in plan.replace("#", "").replace(
        "L", ""
    ) or "windowspecdefinition" in plan
    # cohort key present: the window spec names both partition columns
    import re

    m = re.search(r"windowspecdefinition\(([^)]*)\)", plan)
    assert m and "band" in m.group(1) and "bucket" in m.group(1), plan[:2000]


def test_epoch_shuffle_law(spark):
    """Shuffle-schedule contract: each epoch's global_pos is a
    bijection onto 0..N-1, the worker/step deal is the documented
    arithmetic, and the epochs actually differ (the per-epoch hash
    seed changes the order)."""
    from clj_kinesis_to_firehose_spark.operators.curation_r15 import (
        SHUFFLE_EPOCHS,
        SHUFFLE_WORKERS,
    )

    rows = QUERIES["corpus_epoch_shuffle"](spark, SF_DIR).collect()
    assert rows
    by_epoch: dict[int, dict] = {}
    for r in rows:
        assert r["worker"] == r["global_pos"] % SHUFFLE_WORKERS
        assert r["step"] == r["global_pos"] // SHUFFLE_WORKERS
        by_epoch.setdefault(r["epoch"], {})[r["doc_id"]] = r["global_pos"]
    assert set(by_epoch) == set(range(SHUFFLE_EPOCHS))
    n = len(by_epoch[0])
    for pos_map in by_epoch.values():
        assert len(pos_map) == n
        assert sorted(pos_map.values()) == list(range(n))
    assert by_epoch[0] != by_epoch[1], "epochs must order differently"


def test_epoch_shuffle_windows_are_bucketed(spark):
    """The distributed-rank contract in the plan: every window spec
    partitions by more than the epoch alone — the corpus-sized rank
    runs per (epoch, kbucket); only the 128-row offset relation may
    window by epoch."""
    import re

    df = QUERIES["corpus_epoch_shuffle"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    row_specs = [s for s in specs if "row_number" in s or "kbucket" in s]
    assert any("kbucket" in s for s in specs), specs
    # the row_number window (the corpus-sized one) must carry kbucket
    for s in specs:
        if "skey" in s:  # orders by the shuffle key -> the rank window
            assert "kbucket" in s, s
