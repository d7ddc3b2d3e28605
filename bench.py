#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline query set at
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS] and
prints ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Protocol (BASELINE.md): 3 runs per query, median wall-clock, session
startup excluded. Queries are materialized through the noop sink so
every column is computed but nothing is collected to the driver.

The timing harness is defined here once — :func:`canary`,
:func:`time_query` and :class:`StreamTelemetry` — and ``tools/``
imports it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clj_kinesis_to_firehose_spark import registry  # noqa: E402
from clj_kinesis_to_firehose_spark.session import build_spark  # noqa: E402

#: headline set: one representative per operator family, weighted
#: toward the scale-critical paths (fact-fact join, wide agg, window,
#: as-of, top-k, dedup, similarity, tf-idf)
HEADLINE = [
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
]

N_RUNS = 3

#: second, NON-GATING section (round-4 verdict #8): the engine's
#: round-4+ center of mass — snapshot-table merge, one ANN query, and
#: the end-to-end streaming pipeline as records/s. The original 14
#: HEADLINE queries stay frozen as the 2×-baseline gate; these are
#: trend-tracked in BASELINE.md each round.
EXTENDED = [
    "snapshot_merge_upsert",
    "sim_ann_lsh",
    "snapshot_changes_stream",
    # round 8: merge-on-read delete — trend the vector-commit cost
    # beside the COW merge so rewrite-amplification regressions show
    "snapshot_delete_mor",
    # round 10: the new curation flagship — anchored substring-span
    # dedup; trends the tokenize→hash→window pipeline cost
    "dedup_substring_spans",
    # round 11: BPE training — trends the iterated dictionary-sized
    # select-apply loop (3 merges, each a pair-agg + broadcast REPLACE)
    "bpe_learn_merges",
    # round 11: the capstone manifest — trends the END-TO-END curation
    # battery (gopher gates + decontamination + span dedup + split +
    # shard) as one number
    "corpus_train_manifest",
    # round 12: the scaled BPE loop — trends per-merge cost of the
    # checkpointed driver iteration (64 merges; flat sec/merge is the
    # claim the r11 verdict asked the bench to pin)
    "bpe_learn_merges_scaled",
    # round 12: image near-dup via 4x16-bit hamming bands — trends the
    # decode→hash→band-join→popcount-verify pipeline
    "multimodal_phash_hamming_pairs",
    # round 12: the post-training capstone — trends preference-pair
    # assembly x cohort split x shard as one number
    "pref_train_manifest",
    # round 13: the scaled BT fit — trends per-iteration cost of the
    # 64-step checkpointed MM loop (flat sec/iter is the claim, the
    # bpe_learn_merges_scaled rule applied to the preference family)
    # (round 14: the MM loop moved driver-side over the one collected
    # win matrix — the row now trends the fit/apply split's cost)
    "pref_bt_strength_scaled",
    # round 14 (r13 verdict #6): the learned quality filter's scoring
    # pass — the op most likely to run corpus-wide in production; its
    # plan pin (no Python stage, pruned scan, zero shuffles) lives in
    # tests/test_plans.py::test_quality_apply_is_one_pruned_scan_no_python
    "quality_linear_apply",
    # round 14: the fixed-point IVF pipeline — trends the shared
    # Lloyd's fit (5 integer-argmin iterations, the fit every ANN
    # consumer now rides) plus the broadcast candidate join + top-k;
    # clear_memos before each run keeps the fit honest (never a
    # cache read)
    "sim_ann_ivf",
    # round 15 (r14 verdict #5): the production fit shape — Lloyd's on
    # a 1-in-4 hash sample, full-corpus assignment. Read next to
    # sim_ann_ivf: the gap between the two rows IS the sample-fit
    # saving, and it widens with corpus size (the fit aggregations
    # scan the sample only — plan-pinned in test_plans.py)
    "embedding_kmeans_samplefit",
    # round 15: the now-exact sharded graph index — trends the
    # shard-local int64 graph build (the O(n²/P) matmul) plus the
    # fixed-hop beam search and shortlist merge
    "sim_ann_graph",
    # round 15 (second half): training-sequence geometry — trends the
    # bucket-bounded greedy packing fold (collect_list → JVM
    # higher-order aggregate → per-sequence rollup), the map-side
    # pattern every loader-manifest build pays
    "corpus_pack_greedy",
]
N_RUNS_EXT = 2
#: kept runs per streaming-throughput probe (r15, r14 verdict #3):
#: median-of-5 after one discarded warm-up run — the throughput probes
#: are the bench's noisiest rows and need the deeper sample
N_RUNS_TPUT = 5

#: steady-state box canary of the r13 record run (BENCH_r13:
#: box_canary_runs median 0.343 s) — the normalization anchor that
#: makes box drift machine-readable (r13 verdict #3): a query's
#: canary-normalized time is measured_sec / canary_ratio where
#: canary_ratio = box_canary_sec / CANARY_REF_SEC, i.e. "what this
#: query would have read on the r13 record box". Throughput rows
#: (records/s) are MULTIPLIED by canary_ratio instead. Formula is
#: documented in BASELINE.md; compare normalized values across rounds
#: before calling a delta a regression.
CANARY_REF_SEC = 0.343

#: bounded wait for the streaming listener's asynchronous delivery
TELEMETRY_WAIT_SEC = 30.0


def canary(spark) -> list[float]:
    """Box-throughput canary (round-13): the load-average quiesce stamp
    is blind to host-level slowdowns — r13 measured the SAME rev at
    9.67 s and 13.35 s headline, both "quiesced", and an unchanged r12
    rev read 11.66 s against its recorded 9.94 s. A fixed pure-JVM
    compute (sum over 600M longs, 32 partitions, no I/O) calibrates
    each run: compare cross-round query times via (time / canary)
    before calling anything a regression. Returns the three run
    times."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 600_000_000, 1, 32).selectExpr(
            "sum(id * (id % 7)) AS s"
        ).collect()
        runs.append(round(time.perf_counter() - t0, 3))
    return runs


def canary_ratio(runs: list[float]) -> float:
    """This box's canary median over the r13 record box's."""
    return round(statistics.median(runs) / CANARY_REF_SEC, 3)


def time_query(spark, fn, sf_dir: str) -> float:
    """Wall-clock seconds of one cold run of a registered query: result
    memos cleared (fits are measured COLD every run — the memos exist
    for the test suite, one fit per process, not for the stopwatch),
    the DataFrame built, then materialized through the noop sink so
    every column is computed but nothing is collected."""
    registry.clear_memos()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class StreamTelemetry(StreamingQueryListener):
    """Per-query sums of Spark's own micro-batch ``durationMs`` split
    (addBatch, getBatch, latestOffset, queryPlanning, walCommit,
    commitOffsets, triggerExecution). :meth:`mark` before a run,
    :meth:`split_since` after it: the summed split of every streaming
    query that started in between."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._started: list[str] = []
        self._ended: set[str] = set()
        self._ms: dict[str, Counter] = {}

    def onQueryStarted(self, event) -> None:
        with self._cond:
            self._started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cond:
            self._ms.setdefault(str(p.id), Counter()).update(p.durationMs)

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._ended.add(str(event.id))
            self._cond.notify_all()

    def mark(self) -> int:
        with self._cond:
            return len(self._started)

    def split_since(self, mark: int) -> dict[str, int]:
        """Listener delivery is asynchronous: sum only after every
        query seen to start has been seen to terminate (progress
        events precede their query's terminated event on the bus).
        Empty if that takes longer than :data:`TELEMETRY_WAIT_SEC` —
        no split rather than a partial one."""
        with self._cond:
            if not self._cond.wait_for(
                lambda: self._ended.issuperset(self._started),
                TELEMETRY_WAIT_SEC,
            ):
                return {}
            total: Counter = Counter()
            for qid in self._started[mark:]:
                total.update(self._ms.get(qid, {}))
        return dict(total)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # Quiesce gate (round-8 verdict #1): the 0.25×ncpus threshold let a
    # load-7.22 run stamp `quiesced: true` while the join family drifted
    # +38-61% — the stamp carried no information at that level. Gate at
    # 0.1×ncpus (3.2 on the 32-cpu box; r7's genuinely-quiet run started
    # at 2.79) with a bounded sleep-retry: wait for the box to drain,
    # but never stall the round — after the retry budget, run anyway
    # and stamp quiesced=false so the number carries its own noise
    # context.
    ncpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    quiesce_limit = 0.1 * ncpus
    load1, attempts = -1.0, 0
    max_attempts = int(os.environ.get("SPARK_GRAFT_QUIESCE_RETRIES", "12"))
    while True:
        try:
            load1 = round(os.getloadavg()[0], 2)
        except OSError:
            break
        attempts += 1
        if load1 < quiesce_limit or attempts >= max_attempts:
            break
        time.sleep(10)
    spark = build_spark("kf-bench")
    canary_runs = canary(spark)
    box_canary_sec = statistics.median(canary_runs)
    # Bench hygiene (round-6 verdict #4): WARN-level internal probes —
    # FileStreamSink's "assume no metadata directory" check fires a
    # full stack trace through DataFrameReader.json when reading the
    # sink's staged files back — pollute the tail and mask real
    # failures. The bench only needs ERROR+.
    spark.sparkContext.setLogLevel("ERROR")
    telemetry = StreamTelemetry()
    spark.streams.addListener(telemetry)
    queries = registry.queries()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = queries[name]
        runs = []
        try:
            for _ in range(N_RUNS):
                runs.append(time_query(spark, fn, sf_dir))
            timings[name] = round(statistics.median(runs), 3)
        except Exception:  # one broken query must not zero the round's bench
            import traceback

            traceback.print_exc(file=sys.stderr)
            errors[name] = traceback.format_exc(limit=1).strip().splitlines()[-1]
    total = round(sum(timings.values()), 3)
    extended: dict[str, float] = {}
    ext_errors: dict[str, str] = {}
    for name in EXTENDED:
        try:
            runs = []
            for _ in range(N_RUNS_EXT):
                mark = telemetry.mark()
                runs.append(time_query(spark, queries[name], sf_dir))
            extended[name] = round(statistics.median(runs), 3)
            # where a streaming row's time went (round-7 verdict #5:
            # the total is startup-dominated at small SF): Spark's own
            # per-micro-batch durationMs split, summed over the LAST
            # run's queries, beside the unchanged total
            for key, ms in telemetry.split_since(mark).items():
                extended[f"{name}_{key}_ms"] = ms
        except Exception:
            import traceback

            traceback.print_exc(file=sys.stderr)
            ext_errors[name] = traceback.format_exc(limit=1).strip().splitlines()[-1]
    def throughput(metric: str, qname: str, count_col: str) -> None:
        # end-to-end streaming throughput as records/s over the whole
        # bounded run (stream startup + checkpoint included — that IS
        # the pipeline cost). Median of N_RUNS independent executions
        # (each run builds fresh replay/checkpoint/delivery dirs): the
        # r12 single-shot form carried ~2-3× first-run variance — an
        # isolated idle-box re-measurement put run 1 at 5.2k/7.2k rec/s
        # vs runs 2-3 at 15.7-18.8k, which is Python-worker/JIT
        # startup, not pipeline cost drift — so r13 adopted the
        # 3-run-median protocol. r14 still spanned 2.4× WITHIN one
        # bench (r14 verdict #3), so r15 tightens the protocol: one
        # DISCARDED warm-up run (it pays the Python-worker/JIT and
        # page-cache cost), then N_RUNS kept runs, median + a
        # machine-readable `{metric}_spread` = max/min of the kept
        # runs — a spread near 1 with a moved median is a real
        # regression; a wide spread says "box phase, re-measure".
        try:
            vals = []
            for i in range(N_RUNS_TPUT + 1):
                registry.clear_memos()  # cold fit per timed run
                # each run really does build fresh replay dirs: the
                # process-wide replay memo exists for the test suite,
                # not the stopwatch — dropped here so every run pays
                # the same scaffold cost the documented protocol and
                # prior rounds' single-shot numbers paid (the memo holds
                # the documents replays too, so those are dropped as well)
                from clj_kinesis_to_firehose_spark.sources import streams

                streams._REPLAY_CACHE.clear()
                mark = telemetry.mark()
                t0 = time.perf_counter()
                rows = queries[qname](spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                if i == 0:
                    continue  # warm-up run: measured work, discarded
                vals.append(round(sum(r[count_col] for r in rows) / dt, 1))
            extended[metric] = round(statistics.median(vals), 1)
            extended[f"{metric}_runs"] = vals
            extended[f"{metric}_spread"] = round(max(vals) / min(vals), 2)
            for key, ms in telemetry.split_since(mark).items():
                extended[f"{qname}_{key}_ms"] = ms
        except Exception:
            import traceback

            traceback.print_exc(file=sys.stderr)
            ext_errors[metric] = (
                traceback.format_exc(limit=1).strip().splitlines()[-1]
            )

    # replay → route → PutRecordBatch-batched delivery (foreachBatch)
    throughput(
        "stream_firehose_records_per_sec", "stream_foreachbatch_sink",
        "n_delivered",
    )
    # the Python-DataSource connector pair: stream reader → checkpointed
    # query → stream writer → delivered files read back
    throughput(
        "stream_pyds_records_per_sec", "stream_pyds_connector_pair",
        "n_records",
    )
    ratio = canary_ratio(canary_runs)

    def _norm_sec(v: float) -> float:
        return round(v / ratio, 3)

    # Tail-truncation hardening (r15 verdict #3/#6): the driver archives
    # only a ~2 kB tail of stdout, and r14's single giant JSON line
    # (headline + extended rows) overflowed it mid-JSON, costing the
    # round its automated round-over-round comparison. stdout now
    # carries EXACTLY ONE compact JSON line — the contract fields
    # (metric/value/unit/queries/sf) plus the canary-normalization
    # block, ~1.2 kB, so any tail capture >= 1.5 kB holds the complete
    # parseable line. The non-gating EXTENDED rows (same methodology,
    # same numbers as before — nothing dropped) move to a sidecar JSON
    # file ($SPARK_GRAFT_BENCH_EXT, default ./bench_extended.json,
    # gitignored) and are mirrored to stderr for log capture.
    out = {
        "metric": "headline_median_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "load_avg_start": load1,
        "quiesced": bool(0 <= load1 < quiesce_limit),
        "quiesce_attempts": attempts,
        "box_canary_sec": box_canary_sec,
        "box_canary_runs": canary_runs,
        # canary-normalized twins (r13 verdict #3): what each number
        # would read on the r13 record box (canary 0.343 s) — divide
        # seconds by canary_ratio, multiply records/s by it. Judges
        # compare THESE across rounds; the raw values above stay the
        # record of what actually happened.
        "canary_ref_sec": CANARY_REF_SEC,
        "canary_ratio": ratio,
        "value_normalized_sec": _norm_sec(total),
        "queries_normalized": {k: _norm_sec(v) for k, v in timings.items()},
    }
    if errors:
        # explicit: the total above covers only the queries that ran
        out["errors"] = errors
    ext_out = {
        "metric": "extended_rows",  # non-gating (see EXTENDED above)
        "extended": extended,
        "extended_normalized": {
            k: (
                round(v * ratio, 1)
                if "records_per_sec" in k
                else _norm_sec(v)
            )
            for k, v in extended.items()
            if isinstance(v, (int, float))
        },
        "canary_ratio": ratio,
    }
    if ext_errors:
        ext_out["extended_errors"] = ext_errors  # non-gating: no exit(1)
    ext_path = os.environ.get(
        "SPARK_GRAFT_BENCH_EXT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_extended.json"),
    )
    try:
        with open(ext_path, "w") as fh:
            json.dump(ext_out, fh)
    except OSError:
        pass  # read-only checkout: the stderr mirror still records it
    print(json.dumps(ext_out), file=sys.stderr)
    print(json.dumps(out))
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
