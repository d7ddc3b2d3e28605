"""Round-14 additions: RLHF sampling-loop data prep and inference/
pretraining corpus geometry.

Exact-oracle operators a production training-data platform runs
between curation and training:

* ``pref_rejection_sampling`` — best-of-n candidate selection (the
  RAFT / rejection-sampling fine-tuning step): per prompt cohort,
  keep the top-K candidates by reward, with the cohort's candidate
  count carried so the acceptance rate is auditable.
* ``stream_rejection_sampling`` — its micro-batch ingest twin,
  proving the top-K + additive-count merge law (same oracle).
* ``pref_annotator_agreement`` — Cohen's kappa between two admission
  heuristics, as exact integer rationals: the agreement audit you run
  before trusting any single labeling rule at 100 TB.
* ``corpus_prefix_share`` — KV-cache prefix-sharing analysis via the
  sorted-neighbor method: how many prompt prefix characters a
  prefix-caching inference tier would share, per source.
* ``corpus_span_corruption`` — T5/UL2-style denoising span selection
  with portable-hash offsets: deterministic, engine-independent
  corruption masks.
* ``dq_feature_drift_chi2`` — chi-square drift of the event-type mix
  between the stream's halves: the alarm that schedules…
* ``corpus_mixture_reweight`` — …one DoReMi-style multiplicative
  domain-reweighting step, renormalized to an exact integer budget
  by the largest-remainder rule.

Scale design notes (details per docstring): every window here
partitions by a bounded cohort key (lang×bucket, 4-char prefix
bucket) or runs over source-cardinality rows — never a corpus-wide
global window; the span generator is a pure per-row expression
(map-only); no corpus-sized collect exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.operators.llm_dedup import (
    SQL_HASH60,
    portable_hash60,
)
from clj_kinesis_to_firehose_spark.operators.posttrain import (
    PREF_BUCKET_TOKENS,
    _score_docs,
)
from clj_kinesis_to_firehose_spark.registry import oracle, register
from clj_kinesis_to_firehose_spark.sources import load_table
from clj_kinesis_to_firehose_spark.streaming.pipelines import run_epochs

# --- pref_rejection_sampling ---------------------------------------------------

#: candidates kept per prompt cohort (best-of-n's "best K")
BESTOF_KEEP = 2
#: minimum cohort size for rejection sampling to be meaningful — a
#: cohort the size of the keep budget rejects nothing and would only
#: dilute the accepted set
BESTOF_MIN_N = 3


@register(
    "pref_rejection_sampling",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct,
             CAST(FLOOR(LEN(STRING_SPLIT(text, ' '))
                        / {PREF_BUCKET_TOKENS}.0) AS BIGINT) AS tok_bucket
      FROM documents
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY lang, tok_bucket
               ORDER BY CAST(n_distinct AS DOUBLE) / n_tokens DESC, doc_id
             ) AS accept_rank,
             COUNT(*) OVER (PARTITION BY lang, tok_bucket) AS n_candidates
      FROM scored
    )
    SELECT lang, tok_bucket, CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(accept_rank AS BIGINT) AS accept_rank,
           doc_id, source,
           n_distinct AS reward_num, n_tokens AS reward_den
    FROM ranked
    WHERE accept_rank <= {BESTOF_KEEP} AND n_candidates >= {BESTOF_MIN_N}
    """,
)
def pref_rejection_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n rejection sampling over prompt cohorts — the RAFT /
    rejection-sampling fine-tuning selection step: within each
    (lang, length-bucket) cohort (the ``pref_pair_assembly`` prompt
    proxy, via the shared ``_score_docs`` projection so the reward
    arithmetic cannot drift from the pair ops), rank candidates by the
    exact lexical-diversity reward and keep the top BESTOF_KEEP;
    cohorts smaller than BESTOF_MIN_N are dropped (nothing would be
    rejected). The reward is carried as the integer rational
    (n_distinct, n_tokens) — the round-11 no-roundable-ratio rule.

    Scale: the one shuffle partitions by (lang, tok_bucket) — cohort
    sizes are corpus-fraction-bounded, so no window sees more than a
    bucket; the rank and the cohort count share the single Exchange
    (same partition key). At 100 TB this is exactly the
    reward-model-scored best-of-n pass, with the reward column swapped
    for the model score."""
    scored = _score_docs(load_table(spark, sf_dir, "documents"))
    ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    wr = Window.partitionBy("lang", "tok_bucket").orderBy(
        ratio.desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("lang", "tok_bucket")
    return (
        scored.withColumn("accept_rank", F.row_number().over(wr).cast("long"))
        .withColumn("n_candidates", F.count("*").over(wc).cast("long"))
        .filter(
            (F.col("accept_rank") <= BESTOF_KEEP)
            & (F.col("n_candidates") >= BESTOF_MIN_N)
        )
        .select(
            "lang",
            "tok_bucket",
            "n_candidates",
            "accept_rank",
            "doc_id",
            "source",
            F.col("n_distinct").alias("reward_num"),
            F.col("n_tokens").alias("reward_den"),
        )
    )


# --- pref_annotator_agreement --------------------------------------------------

#: annotator B's minimum-length admission threshold (whitespace tokens)
AGREE_MIN_TOKENS = 60


@register(
    "pref_annotator_agreement",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             LEN(STRING_SPLIT(text, ' ')) AS nt,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS nd
      FROM documents
    ), lab AS (
      SELECT lang,
             CASE WHEN 2 * nd >= nt THEN 1 ELSE 0 END AS la,
             CASE WHEN nt >= {AGREE_MIN_TOKENS} THEN 1 ELSE 0 END AS lb
      FROM s
    ), cnt AS (
      -- CAST: DuckDB SUM(int) is HUGEINT, which stringifies unlike
      -- Spark's long in the driver's value hash
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(CASE WHEN la = 1 AND lb = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS pp,
             CAST(SUM(CASE WHEN la = 1 AND lb = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS pn,
             CAST(SUM(CASE WHEN la = 0 AND lb = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS np_,
             CAST(SUM(CASE WHEN la = 0 AND lb = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS nn
      FROM lab GROUP BY lang
    )
    SELECT lang, n, pp AS both_pos, nn AS both_neg,
           pn AS only_a, np_ AS only_b,
           CAST(n * (pp + nn) - ((pp + pn) * (pp + np_)
                                 + (np_ + nn) * (pn + nn))
             AS BIGINT) AS kappa_num,
           CAST(n * n - ((pp + pn) * (pp + np_) + (np_ + nn) * (pn + nn))
             AS BIGINT) AS kappa_den,
           CASE WHEN n * n - ((pp + pn) * (pp + np_)
                              + (np_ + nn) * (pn + nn)) = 0 THEN NULL
                ELSE CAST(FLOOR(10000.0 *
                     (n * (pp + nn) - ((pp + pn) * (pp + np_)
                                       + (np_ + nn) * (pn + nn)))
                     / (n * n - ((pp + pn) * (pp + np_)
                                 + (np_ + nn) * (pn + nn))))
                  AS BIGINT) END AS kappa_u4
    FROM cnt
    """,
)
def pref_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two admission heuristics, per language —
    the inter-annotator agreement audit a labeling pipeline runs
    before trusting either rule (or a model distilled from them) at
    corpus scale. Annotator A admits on lexical diversity
    (2·n_distinct ≥ n_tokens), annotator B on document length
    (n_tokens ≥ AGREE_MIN_TOKENS). Kappa is emitted as the EXACT
    integer rational (kappa_num, kappa_den) via
    κ = (n·(agree) − Σ marginal products) / (n² − Σ marginal products)
    — multiply both sides of (p_o − p_e)/(1 − p_e) by n² — plus
    FLOOR-u4 fixed point; a degenerate table (both annotators
    constant → kappa undefined) yields NULL, not a division error.

    Scale: one map pass to label, one hash-agg by lang — no window,
    no join; the contingency table is |langs| rows."""
    toks = F.split("text", " ")
    lab = load_table(spark, sf_dir, "documents").select(
        "lang",
        (2 * F.size(F.array_distinct(toks)) >= F.size(toks))
        .cast("int")
        .alias("la"),
        (F.size(toks) >= AGREE_MIN_TOKENS).cast("int").alias("lb"),
    )
    cnt = lab.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(((F.col("la") == 1) & (F.col("lb") == 1)).cast("long")).alias("pp"),
        F.sum(((F.col("la") == 1) & (F.col("lb") == 0)).cast("long")).alias("pn"),
        F.sum(((F.col("la") == 0) & (F.col("lb") == 1)).cast("long")).alias("np_"),
        F.sum(((F.col("la") == 0) & (F.col("lb") == 0)).cast("long")).alias("nn"),
    )
    pe_num = (F.col("pp") + F.col("pn")) * (F.col("pp") + F.col("np_")) + (
        F.col("np_") + F.col("nn")
    ) * (F.col("pn") + F.col("nn"))
    num = F.col("n") * (F.col("pp") + F.col("nn")) - pe_num
    den = F.col("n") * F.col("n") - pe_num
    return cnt.select(
        "lang",
        "n",
        F.col("pp").alias("both_pos"),
        F.col("nn").alias("both_neg"),
        F.col("pn").alias("only_a"),
        F.col("np_").alias("only_b"),
        num.alias("kappa_num"),
        den.alias("kappa_den"),
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(F.floor(F.lit(10000.0) * num / den).cast("long"))
        .alias("kappa_u4"),
    )


# --- corpus_prefix_share -------------------------------------------------------

#: characters of each document considered as the cacheable prefix
#: window (system prompts / templated headers live here)
PREFIX_CAP = 48
#: sorted-neighbor bucketing key width: neighbors are only compared
#: within the same PREFIX_BUCKET-char bucket, so cross-bucket sharing
#: (< PREFIX_BUCKET chars by construction) is excluded BY CONTRACT —
#: that bound is what lets the sort run per-bucket instead of globally
PREFIX_BUCKET = 4


@register(
    "corpus_prefix_share",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             SUBSTR(text, 1, {PREFIX_CAP}) AS p,
             SUBSTR(text, 1, {PREFIX_BUCKET}) AS pb
      FROM documents
    ), lagged AS (
      -- ORDER BY the UTF-8 BYTES of the prefix: Spark sorts strings by
      -- UTF-16 code units, DuckDB by code points — they disagree when
      -- supplementary-plane chars mix with U+E000–U+FFFF. Byte order of
      -- the encoded prefix is identical in both engines for ANY input
      -- (r14 ADVICE).
      SELECT doc_id, source, p,
             LAG(p) OVER (PARTITION BY pb ORDER BY ENCODE(p), doc_id) AS prev
      FROM d
    ), lcp AS (
      SELECT doc_id, source, LEN(p) AS plen,
             CASE WHEN prev IS NULL THEN 0 ELSE COALESCE(
               LIST_MIN(LIST_FILTER(LIST_TRANSFORM(
                 RANGE(1, LEAST(LEN(p), LEN(prev)) + 1),
                 i -> CASE WHEN SUBSTR(p, i, 1) != SUBSTR(prev, i, 1)
                           THEN i END), x -> x IS NOT NULL)) - 1,
               LEAST(LEN(p), LEN(prev))) END AS lcp_chars
      FROM lagged
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(plen) AS BIGINT) AS total_prefix_chars,
           CAST(SUM(lcp_chars) AS BIGINT) AS shared_chars,
           CAST(FLOOR(10000.0 * SUM(lcp_chars) / SUM(plen)) AS BIGINT)
             AS share_u4
    FROM lcp GROUP BY source
    """,
)
def corpus_prefix_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV-cache prefix-sharing analysis via the sorted-neighbor
    method: sort each PREFIX_BUCKET-char bucket of the corpus by its
    PREFIX_CAP-char prefix, take the longest common prefix with the
    sorted predecessor, and report per-source how many prefix
    characters a prefix-caching inference tier (vLLM-style automatic
    prefix caching) would share. Sorted-neighbor LCP is the exact
    greedy cache model: a prefix cached by the previous request in
    sorted order is the best possible reuse for the next.

    The bucketing is part of the operator contract (like the banded
    dedup family): neighbors in different 4-char buckets share < 4
    chars by construction, a negligible saving that is EXCLUDED rather
    than approximated — which is precisely what lets the sort run as
    per-bucket range partitions instead of one global order, the
    difference between a window and a single-reducer bottleneck at
    100 TB.

    Scale: one shuffle on the bucket key (bounded groups), one
    hash-agg by source; the LCP is a pure per-row expression over two
    ≤48-char strings — no UDF, stays in codegen."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.substring("text", 1, PREFIX_CAP).alias("p"),
        F.substring("text", 1, PREFIX_BUCKET).alias("pb"),
    )
    # sort neighbors by the prefix's UTF-8 BYTES (binary order is
    # engine-invariant; raw string order is UTF-16-code-unit in Spark
    # vs code-point in DuckDB — divergent for supplementary-plane text)
    w = Window.partitionBy("pb").orderBy(F.encode(F.col("p"), "UTF-8"), F.col("doc_id"))
    lagged = d.withColumn("prev", F.lag("p").over(w))
    # substr(col, intCol, 1) needs expr form — build the whole LCP as
    # one SQL expression so both engines read the same formula
    lcp_expr = """
      CASE WHEN prev IS NULL THEN 0 ELSE COALESCE(
        array_min(filter(transform(
          sequence(1, least(length(p), length(prev))),
          i -> CASE WHEN substr(p, i, 1) != substr(prev, i, 1)
                    THEN i END), x -> x IS NOT NULL)) - 1,
        least(length(p), length(prev))) END
    """
    lcp = lagged.select(
        "source",
        F.length("p").cast("long").alias("plen"),
        F.expr(lcp_expr).cast("long").alias("lcp_chars"),
    )
    return lcp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("plen").alias("total_prefix_chars"),
        F.sum("lcp_chars").alias("shared_chars"),
        F.floor(F.lit(10000.0) * F.sum("lcp_chars") / F.sum("plen"))
        .cast("long")
        .alias("share_u4"),
    )


# --- corpus_span_corruption ----------------------------------------------------

#: corruption span length in tokens (T5's mean noise-span length)
CORRUPT_SPAN_TOKENS = 3
#: one span is drawn per stratum of this many tokens — 3/20 = the T5
#: 15% corruption rate
CORRUPT_STRATUM_TOKENS = 20


@register(
    "corpus_span_corruption",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
             LEN(STRING_SPLIT(text, ' ')) AS n
      FROM documents
    ), spans AS (
      SELECT doc_id, n, CAST(i AS BIGINT) AS span_id,
             n // {CORRUPT_STRATUM_TOKENS} AS k,
             toks
      FROM d, UNNEST(RANGE(0, GREATEST(n // {CORRUPT_STRATUM_TOKENS}, 0)))
                t(i)
      WHERE n >= {CORRUPT_STRATUM_TOKENS}
    ), placed AS (
      SELECT doc_id, span_id,
             -- stratum = [span_id·(n//k), …); offset = H mod room,
             -- room = stratum width − span length (width ≥ 20 > 3)
             CAST(span_id * (n // k) + 1 +
                  {SQL_HASH60.format(x="doc_id::VARCHAR || ':' || span_id::VARCHAR")}
                  % ((n // k) - {CORRUPT_SPAN_TOKENS})
               AS BIGINT) AS start_tok,
             toks
      FROM spans
    )
    SELECT doc_id, span_id, start_tok,
           start_tok + {CORRUPT_SPAN_TOKENS} - 1 AS end_tok,
           ARRAY_TO_STRING(
             toks[start_tok:start_tok + {CORRUPT_SPAN_TOKENS} - 1], ' ')
             AS span_text
    FROM placed
    """,
)
def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style denoising span selection: one CORRUPT_SPAN_TOKENS
    span per CORRUPT_STRATUM_TOKENS-token stratum (= the 15% noise
    rate), placed inside its stratum at a portable-hash offset — so
    the corruption mask is deterministic, engine-independent, and
    non-overlapping BY CONSTRUCTION (one span per disjoint stratum,
    strata wider than spans). Emits (doc_id, span_id = sentinel id,
    1-based token range, span text); documents shorter than one
    stratum produce no spans.

    Scale: a pure per-row generate-and-map expression — posexplode of
    a per-doc sequence, no shuffle at all until whatever consumes the
    mask; the hash is the portable 60-bit md5 rule shared with the
    dedup family."""
    toks = F.split("text", " ")
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"), F.size(toks).cast("long").alias("n"))
        .filter(F.col("n") >= CORRUPT_STRATUM_TOKENS)
        .withColumn(
            "k", (F.col("n") / CORRUPT_STRATUM_TOKENS).cast("long")
        )
    )
    spans = d.select(
        "doc_id",
        "n",
        "k",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("span_id"),
    ).withColumn("span_id", F.col("span_id").cast("long"))
    stratum = (F.col("n") / F.col("k")).cast("long")  # floor: both ≥ 0
    h = portable_hash60(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("span_id").cast("string"),
        )
    )
    start = (
        F.col("span_id") * stratum
        + F.lit(1)
        + h % (stratum - CORRUPT_SPAN_TOKENS)
    ).cast("long")
    return (
        spans.withColumn("start_tok", start)
        .select(
            "doc_id",
            "span_id",
            "start_tok",
            (F.col("start_tok") + CORRUPT_SPAN_TOKENS - 1).alias("end_tok"),
            F.concat_ws(
                " ", F.slice("toks", F.col("start_tok"), F.lit(CORRUPT_SPAN_TOKENS))
            ).alias("span_text"),
        )
    )


# --- stream_rejection_sampling -------------------------------------------------


@register(
    "stream_rejection_sampling",
    executes_on_build=True,
    oracle=oracle("pref_rejection_sampling"),
)
def stream_rejection_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n maintenance IN the ingest stream — the
    stream_pref_pair_ingest law applied to rejection sampling:
    documents arrive as micro-batches, foreachBatch writes each
    batch's PARTIAL per-cohort top-BESTOF_KEEP (plus the batch's
    cohort candidate count riding on the kept rows), and the final
    pass re-ranks the union of partials with the SAME comparator.
    Top-K is a mergeable aggregate (the global top-K is contained in
    the union of per-batch top-Ks) and counts are additive, so the
    merged accepted set equals the batch build EXACTLY — same oracle
    as pref_rejection_sampling, verbatim.

    The comparator travels WITH the partial: kept rows store
    (n_distinct, n_tokens), the merge re-derives the ratio — never a
    stored rounded score (merge associativity + the half-boundary
    rule).

    Scale: per batch one cohort-keyed rank over batch rows; partials
    are ≤ K rows per cohort per batch; the merge ranks K·batches rows
    per cohort."""
    from clj_kinesis_to_firehose_spark.sources.streams import (
        DOCS_RAW_SCHEMA,
        read_replay,
        write_doc_replay,
    )

    replay_dir = write_doc_replay(spark, sf_dir, n_slices=4)

    ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    wr = Window.partitionBy("lang", "tok_bucket").orderBy(
        ratio.desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("lang", "tok_bucket")

    def bestof_batch(batch_df: DataFrame, epoch: int) -> DataFrame:
        return (
            _score_docs(batch_df)
            .withColumn("r", F.row_number().over(wr))
            .withColumn("batch_n", F.count("*").over(wc).cast("long"))
            .filter(F.col("r") <= BESTOF_KEEP)
            .drop("r")
            .withColumn("epoch", F.lit(epoch))
        )

    partials = run_epochs(
        read_replay(spark, replay_dir, DOCS_RAW_SCHEMA), bestof_batch
    )
    # additive counts: one batch_n per (cohort, epoch) — max() collapses
    # the per-row copies, the sum merges epochs
    counts = (
        partials.groupBy("lang", "tok_bucket", "epoch")
        .agg(F.max("batch_n").alias("bn"))
        .groupBy("lang", "tok_bucket")
        .agg(F.sum("bn").cast("long").alias("n_candidates"))
    )
    merged = (
        partials.withColumn("accept_rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("accept_rank") <= BESTOF_KEEP)
        .join(counts, ["lang", "tok_bucket"])
        .filter(F.col("n_candidates") >= BESTOF_MIN_N)
    )
    return merged.select(
        "lang",
        "tok_bucket",
        "n_candidates",
        "accept_rank",
        "doc_id",
        "source",
        F.col("n_distinct").alias("reward_num"),
        F.col("n_tokens").alias("reward_den"),
    )


# --- dq_feature_drift_chi2 -----------------------------------------------------


@register(
    "dq_feature_drift_chi2",
    oracle="""
    WITH e AS (
      -- NULL-ts rows are excluded BY CONTRACT (both engines): a row
      -- with no timestamp belongs to neither window
      SELECT event_type, EPOCH_US(ts) AS us FROM events
      WHERE ts IS NOT NULL
    ), mid AS (
      SELECT (MIN(us) + MAX(us)) // 2 AS m FROM e
    ), lab AS (
      SELECT event_type, CASE WHEN us < (SELECT m FROM mid) THEN 0 ELSE 1 END
               AS half
      FROM e
    ), cnt AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS o_ref,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS o_cur
      FROM lab GROUP BY event_type
    ), tot AS (
      SELECT CAST(SUM(o_ref) AS BIGINT) AS n_ref,
             CAST(SUM(o_cur) AS BIGINT) AS n_cur
      FROM cnt
    )
    SELECT c.event_type, c.o_ref, c.o_cur, t.n_ref, t.n_cur,
           c.o_cur * t.n_ref - c.o_ref * t.n_cur AS diff_num,
           CASE WHEN c.o_ref = 0 THEN NULL ELSE
             CAST(FLOOR(1000000.0 *
                  (CAST(c.o_cur * t.n_ref - c.o_ref * t.n_cur AS DOUBLE)
                   * CAST(c.o_cur * t.n_ref - c.o_ref * t.n_cur AS DOUBLE))
                  -- factors cast BEFORE multiplying: the int64 product
                  -- n_ref*n_cur*o_ref overflows past ~1e7 rows/half,
                  -- where Spark wraps silently but DuckDB errors
                  / (CAST(t.n_ref AS DOUBLE) * CAST(t.n_cur AS DOUBLE)
                     * CAST(c.o_ref AS DOUBLE)))
               AS BIGINT) END AS contrib_u6
    FROM cnt c CROSS JOIN tot t
    """,
)
def dq_feature_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift detection between the stream's earlier and
    later half (split at the mid-epoch microsecond — the split point
    is timezone-shift-invariant because both halves move together):
    per event_type, the chi-square contribution of the current-window
    count against the reference-window rate, emitted as the exact
    integer cross-difference o_cur·n_ref − o_ref·n_cur plus
    FLOOR-u6 fixed point of (diff²)/(n_ref·n_cur·o_ref). NULL-ts rows
    are excluded by contract (neither window). The counts feeding the
    one division are exact int64s, converted to double INDIVIDUALLY
    before the denominator product (the int64 product would overflow
    past ~1e7 rows per half — Spark wraps silently where DuckDB
    errors; in double both engines compute the identical value at any
    count), so the quotient and its FLOOR cannot diverge; a type
    absent from the reference window yields NULL (chi-square
    undefined), never a division error. This is the training-data
    drift monitor you run
    before each ingestion epoch: a spiking contribution means the
    source mix moved and the mixture weights need re-fitting.

    Scale: one map pass to label halves (the min/max epoch pair is a
    2-value broadcast aggregate), one hash-agg by type — the
    contingency table is |types| rows; no window, no join against
    anything corpus-sized."""
    from clj_kinesis_to_firehose_spark.sources import load_table as _lt

    # NULL-ts rows excluded by contract, matching the oracle: a row
    # with no timestamp belongs to neither window (without the filter
    # Spark's NULL comparison drops the row while the oracle's CASE
    # ELSE would count it — a fixture-luck divergence)
    ev = (
        _lt(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", F.unix_micros("ts").alias("us"))
    )
    # integer `div`, not double /2-then-cast: the double path is exact
    # only while min+max < 2^53 µs (~year 2112) — the oracle's `//` has
    # no such bound, so compute the mid-epoch in int64 on both sides
    # (r14 ADVICE)
    mm = ev.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).select(
        F.expr("(mn + mx) div 2").alias("m")
    )
    lab = ev.crossJoin(F.broadcast(mm)).select(
        "event_type", (F.col("us") >= F.col("m")).cast("int").alias("half")
    )
    # lazy pin (r15, guide §2.4): the totals aggregate and the final
    # projection each rebuilt the scan→label→contingency pipeline (4
    # event scans in the plan); the pinned relation is |types| rows.
    # The two remaining passes (min/max epoch, then labeling) are the
    # split's dependent aggregates — inherent.
    cnt = lab.groupBy("event_type").agg(
        F.sum((F.col("half") == 0).cast("long")).alias("o_ref"),
        F.sum((F.col("half") == 1).cast("long")).alias("o_cur"),
    ).localCheckpoint(eager=False)
    tot = cnt.agg(
        F.sum("o_ref").cast("long").alias("n_ref"),
        F.sum("o_cur").cast("long").alias("n_cur"),
    )
    diff = F.col("o_cur") * F.col("n_ref") - F.col("o_ref") * F.col("n_cur")
    return cnt.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "o_ref",
        "o_cur",
        "n_ref",
        "n_cur",
        diff.alias("diff_num"),
        F.when(F.col("o_ref") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.floor(
                F.lit(1000000.0)
                * (diff.cast("double") * diff.cast("double"))
                # factors cast BEFORE multiplying — the int64 product
                # overflows past ~1e7 rows/half (Spark would wrap
                # silently, DuckDB would error; in double both engines
                # compute the identical value at any count)
                / (
                    F.col("n_ref").cast("double")
                    * F.col("n_cur").cast("double")
                    * F.col("o_ref").cast("double")
                )
            ).cast("long")
        )
        .alias("contrib_u6"),
    )


# --- corpus_mixture_reweight ---------------------------------------------------

#: multiplicative-weights step size: raw weight moves ETA micro-units
#: per micro-unit of quality excess
MIX_ETA = 4
#: floor on a source's raw weight — no source is ever zeroed out of
#: the mixture by one step (DoReMi keeps exploration mass everywhere)
MIX_MIN_RAW = 10_000
#: the mixture budget the final weights sum to EXACTLY (u6: 1.0)
MIX_BUDGET = 1_000_000


@register(
    "corpus_mixture_reweight",
    oracle=f"""
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))))
               AS BIGINT) AS d,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS t
      FROM documents GROUP BY source
    ), x AS (
      SELECT *,
             CAST(SUM(d) OVER () AS BIGINT) AS dd,
             CAST(SUM(t) OVER () AS BIGINT) AS tt
      FROM s
    ), w AS (
      SELECT source, n_docs,
             CAST(FLOOR(1000000.0 * (CAST(d AS DOUBLE) / t
                                     - CAST(dd AS DOUBLE) / tt))
               AS BIGINT) AS excess_u6
      FROM x
    ), raw AS (
      SELECT *,
             GREATEST(1000000 + {MIX_ETA} * excess_u6, {MIX_MIN_RAW})
               AS raw_u6
      FROM w
    ), alloc AS (
      SELECT *,
             CAST(SUM(raw_u6) OVER () AS BIGINT) AS tot_raw,
             CAST(({MIX_BUDGET} * raw_u6)
                  // CAST(SUM(raw_u6) OVER () AS BIGINT) AS BIGINT)
               AS weight_floor,
             CAST(({MIX_BUDGET} * raw_u6)
                  % CAST(SUM(raw_u6) OVER () AS BIGINT) AS BIGINT)
               AS remainder
      FROM raw
    ), leftover AS (
      SELECT CAST({MIX_BUDGET} - SUM(weight_floor) AS BIGINT) AS n_extra
      FROM alloc
    )
    SELECT a.source, a.n_docs, a.excess_u6, CAST(a.raw_u6 AS BIGINT)
             AS raw_u6, a.weight_floor,
           a.weight_floor
             + CASE WHEN ROW_NUMBER() OVER (ORDER BY a.remainder DESC,
                                            a.source) <= l.n_extra
                    THEN 1 ELSE 0 END AS weight_u6
    FROM alloc a CROSS JOIN leftover l
    """,
)
def corpus_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting step: per source, the
    quality EXCESS over the corpus mean (lexical-diversity rational
    d/t as the loss proxy — at production the per-domain excess loss
    drops in here) moves the source's raw weight multiplicatively
    (linearized MW update, no transcendental: raw = 1e6 + η·excess_u6,
    floored at MIX_MIN_RAW so no source is zeroed), then the raw
    weights are renormalized onto the EXACT mixture budget by the
    largest-remainder method (the crawl_politeness_budget rule) —
    Σ weight_u6 = 1e6 precisely, no float normalization drift. This is
    the step dq_feature_drift_chi2's alarm schedules: the mix moved,
    re-fit the weights.

    Exactness: the one double expression (excess) consumes exact int64
    sums with factor-wise division BEFORE subtraction — identical IEEE
    doubles both engines; everything after is integer arithmetic.

    Scale: one hash-agg to source cardinality; every window after runs
    over SOURCE rows only — the mixture table is |sources|-sized at
    any corpus scale."""
    toks = F.split("text", " ")
    s = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.array_distinct(toks))).cast("long").alias("d"),
        F.sum(F.size(toks)).cast("long").alias("t"),
    )
    every = Window.partitionBy()
    x = s.select(
        "*",
        F.sum("d").over(every).cast("long").alias("dd"),
        F.sum("t").over(every).cast("long").alias("tt"),
    )
    excess = F.floor(
        F.lit(1000000.0)
        * (
            F.col("d").cast("double") / F.col("t")
            - F.col("dd").cast("double") / F.col("tt")
        )
    ).cast("long")
    raw = x.select(
        "source",
        "n_docs",
        excess.alias("excess_u6"),
    ).withColumn(
        "raw_u6",
        F.greatest(
            F.lit(1000000) + MIX_ETA * F.col("excess_u6"),
            F.lit(MIX_MIN_RAW),
        ).cast("long"),
    )
    alloc = raw.select(
        "*",
        F.sum("raw_u6").over(every).cast("long").alias("tot_raw"),
    ).select(
        "*",
        # integer `div`, matching the oracle's exact `//`: a double
        # quotient would only floor correctly while budget·raw stays
        # under 2^53 — an unstated bound a constant bump could cross
        # (review finding; crawl_politeness_budget instead uses
        # FLOOR(double) SYMMETRICALLY, safe at its magnitudes — the
        # two allocators deliberately pin the same largest-remainder
        # rule at the two arithmetic strengths)
        F.expr(f"({MIX_BUDGET} * raw_u6) div tot_raw")
        .cast("long")
        .alias("weight_floor"),
        ((F.lit(MIX_BUDGET) * F.col("raw_u6")) % F.col("tot_raw"))
        .cast("long")
        .alias("remainder"),
    )
    leftover = alloc.agg(
        (F.lit(MIX_BUDGET) - F.sum("weight_floor")).cast("long").alias("n_extra")
    )
    seat = F.row_number().over(
        Window.orderBy(F.col("remainder").desc(), F.col("source"))
    )
    return alloc.crossJoin(F.broadcast(leftover)).select(
        "source",
        "n_docs",
        "excess_u6",
        "raw_u6",
        "weight_floor",
        (
            F.col("weight_floor")
            + F.when(seat <= F.col("n_extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("weight_u6"),
    )
