"""Round-14 changes: the shared bucket-size gate routed through every
probe-style candidate join (r13 ADVICE medium), the quality-filter fit
loop single-sourced, the driver-side BT scaled fit, and the
fixed-point exactness upgrades."""

from __future__ import annotations

import pytest

from clj_kinesis_to_firehose_spark import registry
from clj_kinesis_to_firehose_spark.operators.llm_dedup import (
    BAND_BUCKET_CAP,
    gate_oversized,
)
from tests.conftest import SF_DIR

QUERIES = registry.queries()


def _synthetic_banded(spark, flood_n: int, organic: list[int]):
    rows = [(i, 0, "flood") for i in range(flood_n)]
    nxt = flood_n
    for k, n in enumerate(organic):
        rows += [(nxt + i, 0, f"org{k}") for i in range(n)]
        nxt += n
    return spark.createDataFrame(rows, "doc_id long, band int, bucket string")


def test_gate_oversized_drops_flood_keeps_organic(spark):
    banded = _synthetic_banded(spark, BAND_BUCKET_CAP + 50, [3, 2])
    kept = gate_oversized(banded).collect()
    assert len(kept) == 5
    assert all(r.bucket != "flood" for r in kept)


def test_gate_oversized_passes_extra_columns_through(spark):
    """The incremental-minhash consumer gates a tagged relation (an
    is_delta flag) in one pass — extra columns must survive the gate
    and the helper column must not leak into the output."""
    import pyspark.sql.functions as F

    banded = _synthetic_banded(spark, BAND_BUCKET_CAP + 50, [4]).withColumn(
        "is_delta", (F.col("doc_id") % 2).cast("int")
    )
    out = gate_oversized(banded)
    assert set(out.columns) == {"doc_id", "band", "bucket", "is_delta"}
    assert out.count() == 4


def test_gate_oversized_none_disables(spark):
    banded = _synthetic_banded(spark, BAND_BUCKET_CAP + 10, [])
    assert gate_oversized(banded, None) is banded


@pytest.mark.parametrize(
    "name",
    [
        "multimodal_phash_multiprobe_pairs",
        "dedup_incremental_phash",
        "dedup_incremental_minhash",
    ],
)
def test_probe_joins_carry_the_bucket_gate(spark, name):
    """The r14 guarantee itself: each formerly-ungated probe-style
    candidate join now carries the windowed bucket-size filter — the
    (band, bucket) count window followed by the <= cap predicate — in
    its OPTIMIZED plan, so a template flood is excluded from pair
    generation before the join multiplies it."""
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert f"<= {BAND_BUCKET_CAP}" in plan, (name, plan[:4000])
    assert "windowspecdefinition(band" in plan.replace(
        "#", ""
    ) or "windowspecdefinition" in plan, (name,)


def test_green_tail_orders_stalest_record_first():
    """r13 verdict #5: with every query driver-green, the window must
    become a freshness rotation — names without a conclusive record
    come first, and every green name in the live first-50 window has a
    latest record no newer than any green name outside it (the stalest
    cohort re-proves under the current driver)."""
    latest = registry._latest_records()
    seen = registry._adjudicated_names()
    order = list(registry.queries())
    is_green = [n in seen for n in order]
    assert is_green == sorted(is_green), order
    window, rest = order[:50], order[50:]
    in_window = [latest[n][0] for n in window if n in seen]
    outside = [latest[n][0] for n in rest if n in seen]
    if in_window and outside:
        assert max(in_window) <= min(outside), window


def test_tail_sort_is_stable_by_registration_within_round(tmp_path):
    """Two greens from the same round keep registration order; an
    older green fronts a newer one regardless of registration order."""
    import json

    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    with open(tmp_path / "CORRECTNESS_r02.json", "w") as fh:
        json.dump({"op_new": green}, fh)
    with open(tmp_path / "CORRECTNESS_r01.json", "w") as fh:
        json.dump({"op_old_a": green, "op_old_b": green}, fh)
    latest = registry._latest_records(root=str(tmp_path))
    assert latest["op_new"][0] == 2
    assert latest["op_old_a"][0] == 1


def test_bt_driver_loop_bit_equals_distributed(spark):
    """The r14 fit/apply rewrite's contract: at equal iteration count
    the driver-side MM loop and the distributed (checkpointed) loop
    produce IDENTICAL rows — same integer strengths, same ranks —
    because every quantity is an exact integer sum or the identical
    IEEE-double FLOOR(1e12·x/y)."""
    from clj_kinesis_to_firehose_spark.operators.posttrain import _bt_fit
    from tests.conftest import SF_DIR as _SF

    dist = sorted(
        map(tuple, _bt_fit(spark, _SF, 6, checkpoint_every=2).collect())
    )
    drv = sorted(map(tuple, _bt_fit(spark, _SF, 6, driver_loop=True).collect()))
    assert dist == drv


# --- round-14 curation additions (curation_r14.py) ----------------------------


def test_rejection_sampling_keeps_cohort_best(spark):
    """Best-of-n contract: ≤ BESTOF_KEEP rows per cohort, every cohort
    large enough to reject something, and the rank-1 accepted doc per
    cohort is exactly pref_pair_assembly's chosen doc (the two ops
    share the scoring projection, so their winners must coincide)."""
    rows = QUERIES["pref_rejection_sampling"](spark, SF_DIR).collect()
    assert rows
    by_cohort: dict[tuple, list] = {}
    for r in rows:
        assert r["n_candidates"] >= 3
        assert 1 <= r["accept_rank"] <= 2
        by_cohort.setdefault((r["lang"], r["tok_bucket"]), []).append(r)
    for members in by_cohort.values():
        assert len(members) <= 2
        ranks = sorted(m["accept_rank"] for m in members)
        assert ranks == list(range(1, len(members) + 1))
    pairs = QUERIES["pref_pair_assembly"](spark, SF_DIR).collect()
    chosen = {(p["lang"], p["tok_bucket"]): p["chosen_doc_id"] for p in pairs}
    for key, members in by_cohort.items():
        if key in chosen:
            rank1 = next(m for m in members if m["accept_rank"] == 1)
            assert rank1["doc_id"] == chosen[key], key


def test_annotator_agreement_kappa_identity(spark):
    """κ must satisfy its own definition recomputed from the emitted
    contingency table, stay in [−1, 1], and floor consistently."""
    import math

    rows = QUERIES["pref_annotator_agreement"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        a, b, c, d = r["both_pos"], r["only_a"], r["only_b"], r["both_neg"]
        n = r["n"]
        assert a + b + c + d == n
        pe_num = (a + b) * (a + c) + (c + d) * (b + d)
        assert r["kappa_num"] == n * (a + d) - pe_num
        assert r["kappa_den"] == n * n - pe_num
        if r["kappa_den"]:
            assert -r["kappa_den"] <= r["kappa_num"] <= r["kappa_den"]
            assert r["kappa_u4"] == math.floor(
                10000.0 * r["kappa_num"] / r["kappa_den"]
            )


def test_prefix_share_matches_pure_python_replay(spark):
    """Exactness pin independent of BOTH engines: re-derive the whole
    per-source sharing report in plain Python (same bucket → sort →
    neighbor-LCP contract) from the parquet bytes and compare."""
    import pyarrow.parquet as pq
    from collections import defaultdict

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "source", "text"])
    docs = sorted(
        zip(tbl["doc_id"].to_pylist(), tbl["source"].to_pylist(), tbl["text"].to_pylist())
    )
    buckets: dict[str, list] = defaultdict(list)
    for doc_id, source, text in docs:
        p = text[:48]
        buckets[text[:4]].append((p, doc_id, source))
    total: dict[str, int] = defaultdict(int)
    shared: dict[str, int] = defaultdict(int)
    ndocs: dict[str, int] = defaultdict(int)
    for members in buckets.values():
        members.sort()
        prev = None
        for p, _, source in members:
            ndocs[source] += 1
            total[source] += len(p)
            if prev is not None:
                lcp = 0
                for x, y in zip(p, prev):
                    if x != y:
                        break
                    lcp += 1
                shared[source] += lcp
            prev = p
    rows = QUERIES["corpus_prefix_share"](spark, SF_DIR).collect()
    assert {r["source"] for r in rows} == set(ndocs)
    for r in rows:
        s = r["source"]
        assert r["n_docs"] == ndocs[s]
        assert r["total_prefix_chars"] == total[s]
        assert r["shared_chars"] == shared[s], s
        assert 0 <= r["share_u4"] <= 10000


def test_span_corruption_strata_and_text(spark):
    """Spans are non-overlapping by construction (one per disjoint
    20-token stratum), 3 tokens long, in bounds, count n//20 per doc,
    and the emitted text is the actual token slice."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    toks = {
        d: t.split(" ")
        for d, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
    }
    rows = QUERIES["corpus_span_corruption"](spark, SF_DIR).collect()
    assert rows
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, spans in per_doc.items():
        n = len(toks[doc_id])
        k = n // 20
        assert len(spans) == k and k >= 1
        stratum = n // k
        for r in spans:
            i = r["span_id"]
            assert r["end_tok"] == r["start_tok"] + 2
            lo, hi = i * stratum + 1, i * stratum + stratum
            assert lo <= r["start_tok"] and r["end_tok"] <= hi <= n + stratum
            assert r["span_text"] == " ".join(
                toks[doc_id][r["start_tok"] - 1 : r["end_tok"]]
            )
    # docs shorter than one stratum emit nothing
    for doc_id, t in toks.items():
        if len(t) < 20:
            assert doc_id not in per_doc


def test_stream_rejection_sampling_equals_batch(spark):
    """The mergeability law end-to-end: micro-batch partial top-Ks +
    additive counts re-ranked == the batch build, row for row."""
    batch = sorted(
        map(tuple, QUERIES["pref_rejection_sampling"](spark, SF_DIR).collect())
    )
    stream = sorted(
        map(tuple, QUERIES["stream_rejection_sampling"](spark, SF_DIR).collect())
    )
    assert batch == stream


def test_feature_drift_chi2_identities(spark):
    """Counts partition the stream, the cross-difference sums to zero
    over types (both halves share the same totals identity), and each
    contribution re-floors from its own integers."""
    import math

    rows = QUERIES["dq_feature_drift_chi2"](spark, SF_DIR).collect()
    assert rows
    n_ref, n_cur = rows[0]["n_ref"], rows[0]["n_cur"]
    assert sum(r["o_ref"] for r in rows) == n_ref
    assert sum(r["o_cur"] for r in rows) == n_cur
    assert sum(r["diff_num"] for r in rows) == 0
    for r in rows:
        assert r["diff_num"] == r["o_cur"] * n_ref - r["o_ref"] * n_cur
        if r["o_ref"] == 0:
            assert r["contrib_u6"] is None
        else:
            expect = math.floor(
                1000000.0
                * (float(r["diff_num"]) * float(r["diff_num"]))
                / float(n_ref * n_cur * r["o_ref"])
            )
            assert r["contrib_u6"] == expect and r["contrib_u6"] >= 0


def test_ivf_incremental_census_and_alarm(spark):
    """The incremental index must census every vector exactly once,
    agree with a from-scratch recount of parities, and raise the refit
    flag exactly per its growth rule."""
    import pyarrow.parquet as pq

    rows = QUERIES["sim_ann_ivf_incremental"](spark, SF_DIR).collect()
    n = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id"]).num_rows
    assert sum(r["n_base"] + r["n_new"] for r in rows) == n
    for r in rows:
        if r["n_base"] == 0:
            assert r["growth_u4"] is None and r["needs_refit"]
        else:
            expect = 10000 * r["n_new"] // r["n_base"]
            assert r["growth_u4"] == expect
            assert r["needs_refit"] == (expect >= 7500)


def test_mixture_reweight_budget_and_floor(spark):
    """Weights sum EXACTLY to the 1e6 budget, every raw weight
    respects the exploration floor, and higher-excess sources never
    receive a smaller raw weight."""
    rows = QUERIES["corpus_mixture_reweight"](spark, SF_DIR).collect()
    assert rows
    assert sum(r["weight_u6"] for r in rows) == 1_000_000
    for r in rows:
        assert r["raw_u6"] >= 10_000
        assert r["weight_u6"] in (r["weight_floor"], r["weight_floor"] + 1)
    by_excess = sorted(rows, key=lambda r: r["excess_u6"])
    raws = [r["raw_u6"] for r in by_excess]
    assert raws == sorted(raws)


def test_kmeans_fp_fit_is_partition_invariant(spark):
    """THE portability claim behind every r14 exact oracle, tested
    directly: the fixed-point fit's integer sums are order-free, so a
    different scan split AND a different reduce width must produce
    BIT-IDENTICAL centroids and inertia. The memo is popped around
    each fit so both runs execute from scratch."""
    from clj_kinesis_to_firehose_spark.operators import llm_clustering as lc

    memo_key = (spark.sparkContext.applicationId, SF_DIR, "")
    lc._KMEANS_FIT_MEMO.pop(memo_key, None)
    cent1, _, in1 = lc._fit_kmeans_fp(spark, SF_DIR)
    lc._KMEANS_FIT_MEMO.pop(memo_key, None)
    # vary BOTH partitioning knobs the fit's jobs actually see:
    # files.maxPartitionBytes drives fan_out's scan split (the
    # map-side Arrow batches the assign kernel reduces over) and
    # shuffle.partitions drives the (cluster, dim) agg's reduce width
    mpb_before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    shp_before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        cent2, _, in2 = lc._fit_kmeans_fp(spark, SF_DIR)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb_before)
        spark.conf.set("spark.sql.shuffle.partitions", shp_before)
        lc._KMEANS_FIT_MEMO.pop(memo_key, None)
    assert cent1 == cent2
    assert in1 == in2


def test_join_cardinality_preflight_predicts_the_real_join(spark):
    """The pre-flight's whole point: its exact_join_rows must equal the
    row count of the join it priced — verified by running that join."""
    import pyspark.sql.functions as F

    row = QUERIES["join_cardinality_preflight"](spark, SF_DIR).collect()[0]
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    actual = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).count()
    assert row["exact_join_rows"] == actual
    assert row["n_left"] == orders.count()
    assert row["n_right"] == customer.count()
    assert row["max_key_fanout"] <= row["exact_join_rows"]
    assert row["skew_flag"] == (
        row["max_key_fanout"] * 100 > row["exact_join_rows"]
    )
