"""Learned quality filter — the model-based filtering stage of a
training-data pipeline (the step AFTER heuristic gates: fit a linear
classifier on bag-of-token features against a weak label, then score
the corpus with it; the fasttext-classifier shape of the public
DCLM/FineWeb-style curation recipes, as an ONLINE perceptron so every
quantity is integer-exact across engines).

Fit/apply split, the production shape: classifier FITTING is never
corpus-scale — you take a bounded, deterministic sample, fit a small
model near the driver, then APPLY it distributed with the weights
riding along as literals. Here the fit is an online perceptron over
the doc_id-ordered sample (Novikoff: converges on separable data —
and the weak label IS linearly representable in the token-count
basis, so the fit's job is recovering the labeler's weights from
examples, the fixture double of "learn the quality rule"); scoring is
a stateless map over every document.

Exactness: features are scaled integer counts (percent units, so
token-count and length features update at comparable magnitude —
the raw-count basis left the batch gradient words-dominated and the
fit at chance), the weak label is an integer cross-multiplication,
and the update w += y·x needs no learning-rate division and no
sigmoid (no transcendental ever enters the hashed output). The
oracle replays the SAME update sequence as a recursive CTE over the
row-numbered sample — the tokenize_greedy_pieces recursion pattern
applied to a training loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.operators.llm_text import STOPWORDS
from clj_kinesis_to_firehose_spark.registry import register, register_memo
from clj_kinesis_to_firehose_spark.sources import load_table
from clj_kinesis_to_firehose_spark.streaming.pipelines import run_epochs

#: online-perceptron epochs over the sample (one update pass per
#: epoch, doc_id order). 16 is past the knee on the fixture: train
#: misclassification falls 500 -> ~26/500 and the learned
#: words-vs-counts weight ratio lands within 6% of the labeler's.
QL_EPOCHS = 16

#: fit-sample size: the first QL_SAMPLE_N docs by doc_id. Fit cost is
#: O(QL_SAMPLE_N · QL_EPOCHS) regardless of corpus size — the whole
#: point of the fit/apply split.
QL_SAMPLE_N = 500

#: feature names in weight order; x0 is the bias, x1 the word count,
#: x2.. the per-stopword token counts in percent units (x100).
QL_FEATURES = ["bias", "words"] + [f"tok_{s}" for s in STOPWORDS]

#: weak-label rule: "prose" (+1) when stopwords are >= 12% of words —
#: integer cross-multiplication, no ratio is ever materialized.
QL_LABEL_PCT = 12

_NF = len(QL_FEATURES)
_STOPLIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


def _ql_features(docs: DataFrame, passthrough: tuple = ()) -> DataFrame:
    """Per-doc integer feature row (doc_id, x0..x{n}, y), plus any
    ``passthrough`` columns projected alongside — so a consumer that
    needs e.g. ``source`` stays a single projection instead of joining
    the features back onto their own input (r13 review finding)."""
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_hits = F.size(
        F.filter(words, lambda w: F.array_contains(stop_arr, w))
    )
    cols = [
        "doc_id",
        *passthrough,
        F.lit(1).cast("long").alias("x0"),
        F.size(words).cast("long").alias("x1"),
    ]
    def _tok_count(s: str):
        # closure factory, NOT a defaulted lambda arg: a two-parameter
        # lambda is the (element, index) higher-order form to Spark
        return F.size(F.filter(words, lambda w: w == F.lit(s)))

    for j, s in enumerate(STOPWORDS):
        cols.append(
            (F.lit(100) * _tok_count(s)).cast("long").alias(f"x{j + 2}")
        )
    cols.append(
        F.when(
            F.lit(100) * stop_hits >= F.lit(QL_LABEL_PCT) * F.size(words),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y")
    )
    return docs.select(*cols)


def _sql_feat() -> str:
    toks = ",\n             ".join(
        f"CAST(100 * LEN(LIST_FILTER(STRING_SPLIT(text, ' '), "
        f"w -> w = '{s}')) AS BIGINT) AS x{j + 2}"
        for j, s in enumerate(STOPWORDS)
    )
    return f"""
    feat AS MATERIALIZED (
      SELECT doc_id,
             CAST(1 AS BIGINT) AS x0,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS x1,
             {toks},
             CAST(CASE WHEN 100 * LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                 w -> LIST_CONTAINS({_STOPLIST_SQL}, w)))
                            >= {QL_LABEL_PCT} * LEN(STRING_SPLIT(text, ' '))
                       THEN 1 ELSE -1 END AS BIGINT) AS y
      FROM documents
    )
"""


def _sql_ql_fit() -> str:
    """The online-perceptron training replay as a recursive CTE: state
    is (step, w0..w{n}); step k visits sample row k mod n and applies
    the update iff the margin is non-positive — the EXACT sequence the
    Spark-side driver loop runs."""
    dot = " + ".join(f"fit.w{j} * s.x{j}" for j in range(_NF))
    upd = ",\n         ".join(
        f"CASE WHEN s.y * ({dot}) <= 0 THEN fit.w{j} + s.y * s.x{j} "
        f"ELSE fit.w{j} END"
        for j in range(_NF)
    )
    zeros = ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(_NF))
    return f"""
    WITH RECURSIVE {_sql_feat()},
    samp AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn, * FROM (
        SELECT * FROM feat ORDER BY doc_id LIMIT {QL_SAMPLE_N})
    ),
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM samp),
    fit AS (
      SELECT CAST(0 AS BIGINT) AS step, {zeros}
      UNION ALL
      SELECT fit.step + 1,
         {upd}
      FROM fit JOIN samp s ON s.rn = fit.step % (SELECT n FROM nn)
      JOIN nn ON TRUE
      WHERE fit.step < {QL_EPOCHS} * nn.n
    ),
    wfin AS MATERIALIZED (SELECT * FROM fit ORDER BY step DESC LIMIT 1)
"""


#: process-lifetime memo of fitted weight vectors per fixture dir —
#: the fit is deterministic over the immutable fixture; four registered
#: ops share it, so warm builds skip the sample jobs (those ops
#: register executes_on_build="conditional").
_QL_FIT_CACHE: dict[str, list[int]] = register_memo({})


def _ql_collect_sample(spark: SparkSession, sf_dir: str) -> list:
    """The bounded fit sample: first QL_SAMPLE_N feature rows in
    doc_id order — the one collect every fit-family op pays."""
    return (
        _ql_features(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        .orderBy("doc_id")
        .limit(QL_SAMPLE_N)
        .collect()
    )


def _ql_epoch_states(sample: list):
    """THE single home of the perceptron update rule (r13 ADVICE: the
    fit and the curve each carried a copy that could drift from the
    recursive-CTE oracle independently). Yields the weight vector at
    every epoch BOUNDARY: the state before epoch 0's updates (the zero
    vector), then after each of the QL_EPOCHS passes — QL_EPOCHS + 1
    yields, the last being the fitted weights."""
    w = [0] * _NF
    for _ in range(QL_EPOCHS):
        yield list(w)
        for r in sample:
            x = [r[f"x{j}"] for j in range(_NF)]
            if r["y"] * sum(wj * xj for wj, xj in zip(w, x)) <= 0:
                w = [wj + r["y"] * xj for wj, xj in zip(w, x)]
    yield list(w)


def _ql_fit_weights(spark: SparkSession, sf_dir: str) -> list[int]:
    """Collect the bounded sample (QL_SAMPLE_N rows, doc_id order) and
    run the online loop driver-side — fit cost independent of corpus
    size; the distributed half of the op is feature extraction."""
    hit = _QL_FIT_CACHE.get(sf_dir)
    if hit is not None:
        return list(hit)
    for w in _ql_epoch_states(_ql_collect_sample(spark, sf_dir)):
        pass  # the final yield is the fitted vector
    _QL_FIT_CACHE[sf_dir] = list(w)
    return w


_PIVOT = " UNION ALL ".join(
    f"SELECT '{name}' AS feature, w{j} AS weight FROM wfin"
    for j, name in enumerate(QL_FEATURES)
)

_DOT_W = " + ".join(f"w.w{j} * f.x{j}" for j in range(_NF))


@register(
    "quality_linear_fit",
    executes_on_build="conditional",
    oracle=_sql_ql_fit() + f"SELECT feature, weight FROM ({_PIVOT})",
)
def quality_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the learned quality filter: QL_EPOCHS online-perceptron
    passes over the doc_id-ordered QL_SAMPLE_N-doc sample; returns the
    weight vector as (feature, weight) rows, hash-EXACT against a
    recursive-CTE oracle replaying the identical update sequence.

    Scale: the sample collect is QL_SAMPLE_N rows of len(QL_FEATURES)
    longs — bounded by the sampling constant, never the corpus (the
    fasttext rule: quality models are small and sample-fit; corpora
    are big and model-scored). Feature extraction before the limit is
    distributed and column-pruned.
    """
    w = _ql_fit_weights(spark, sf_dir)
    return spark.createDataFrame(
        [(name, int(w[j])) for j, name in enumerate(QL_FEATURES)],
        "feature string, weight long",
    )


@register(
    "quality_linear_apply",
    executes_on_build="conditional",
    oracle=_sql_ql_fit()
    + f"""
    SELECT f.doc_id,
           CAST({_DOT_W} AS BIGINT) AS margin,
           CAST(CASE WHEN {_DOT_W} > 0 THEN 1 ELSE -1 END AS BIGINT)
             AS pred,
           f.y AS label_weak
    FROM feat f, wfin w
    """,
)
def quality_linear_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score EVERY document with the fitted filter: margin = w·x,
    admitted when positive. The weights ride into the scoring
    expression as literals (broadcast-by-construction), so application
    is a stateless map over the corpus — the shape that drops into a
    streaming admission gate unchanged. label_weak rides along for
    agreement audits."""
    w = _ql_fit_weights(spark, sf_dir)
    feats = _ql_features(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    margin = sum(F.lit(int(w[j])) * F.col(f"x{j}") for j in range(_NF))
    return feats.select(
        "doc_id",
        margin.cast("long").alias("margin"),
        F.when(margin > 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("pred"),
        F.col("y").alias("label_weak"),
    )


@register(
    "quality_linear_eval",
    executes_on_build="conditional",
    oracle=_sql_ql_fit()
    + f"""
    , scored AS (
      SELECT f.y, CASE WHEN {_DOT_W} > 0 THEN 1 ELSE -1 END AS pred
      FROM feat f, wfin w
    )
    SELECT CAST(y AS BIGINT) AS label_weak,
           CAST(pred AS BIGINT) AS pred,
           COUNT(*) AS n_docs
    FROM scored GROUP BY y, pred
    """,
)
def quality_linear_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the fitted filter against its weak label —
    the acceptance report a curation run reads before trusting the
    model gate (a learned filter that cannot reproduce its own weak
    label is mis-fit; the pytest pins >90% agreement). Exact: composes
    the fit and scoring rules verbatim; one 4-cell corpus aggregate."""
    scored = quality_linear_apply(spark, sf_dir)
    return scored.groupBy(F.col("label_weak"), F.col("pred")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "stream_quality_admission",
    executes_on_build=True,
    oracle=_sql_ql_fit()
    + f"""
    , scored AS (
      SELECT d.source,
             {_DOT_W} AS margin,
             CASE WHEN {_DOT_W} > 0 THEN 1 ELSE 0 END AS adm
      FROM feat f JOIN documents d ON f.doc_id = d.doc_id
      CROSS JOIN wfin w
    )
    SELECT source,
           CAST(SUM(adm) AS BIGINT) AS n_admitted,
           CAST(SUM(1 - adm) AS BIGINT) AS n_rejected,
           CAST(SUM(margin) AS BIGINT) AS sum_margin
    FROM scored GROUP BY source
    """,
)
def stream_quality_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned filter IN the ingest stream — the claim
    quality_linear_apply's docstring makes, executed: the model is fit
    ONCE before the stream starts (a static artifact, like the
    admission op's pre-built indexes), then every micro-batch of the
    documents replay scores its own rows with the literal-weight
    expression and appends decisions; the per-source admission report
    read back from the delivered batches must equal the batch scorer
    exactly, because the gate is per-doc given the static weights —
    micro-batch boundaries cannot change any decision.

    Scale: per batch one stateless projection (no corpus join, no
    state store); the model rides in the plan, not in a shuffle.
    Per-batch driver traffic is zero — decisions go straight to the
    batch's epoch output."""
    from clj_kinesis_to_firehose_spark.sources.streams import (
        DOCS_RAW_SCHEMA,
        read_replay,
        write_doc_replay,
    )

    w = _ql_fit_weights(spark, sf_dir)
    replay_dir = write_doc_replay(spark, sf_dir, n_slices=4)

    def score_batch(batch_df: DataFrame, epoch: int) -> DataFrame:
        feats = _ql_features(batch_df, passthrough=("source",))
        margin = sum(
            F.lit(int(w[j])) * F.col(f"x{j}") for j in range(_NF)
        )
        return feats.select(
            "source",
            margin.cast("long").alias("margin"),
            F.when(margin > 0, F.lit(1)).otherwise(F.lit(0)).alias("adm"),
        )

    return (
        run_epochs(read_replay(spark, replay_dir, DOCS_RAW_SCHEMA), score_batch)
        .groupBy("source")
        .agg(
            F.sum("adm").cast("long").alias("n_admitted"),
            F.sum(F.lit(1) - F.col("adm")).cast("long").alias("n_rejected"),
            F.sum("margin").cast("long").alias("sum_margin"),
        )
    )


@register(
    "quality_linear_curve",
    # True, not "conditional": the sample collect below runs
    # unconditionally at build time (boundary states are not memoized —
    # only the final vector is), so an action probe always observes
    # jobs (r13 ADVICE).
    executes_on_build=True,
    oracle=_sql_ql_fit()
    + f"""
    , epochs AS (
      SELECT fit.step // nn.n AS epoch,
             {", ".join(f"fit.w{j}" for j in range(_NF))}
      FROM fit, nn WHERE fit.step % nn.n = 0
    )
    SELECT e.epoch AS epoch,
           CAST(COUNT(*) FILTER (
             s.y * ({" + ".join(f"e.w{j} * s.x{j}" for j in range(_NF))})
               <= 0) AS BIGINT) AS n_misclassified
    FROM epochs e, samp s
    GROUP BY e.epoch
    """,
)
def quality_linear_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence telemetry for the quality-filter fit: sample
    misclassification count at every epoch boundary (epoch 0 = the
    zero vector; the last row is the post-training state) — the diagnostic a curation run
    reads to decide whether QL_EPOCHS is past the knee before trusting
    the gate, completing the family's fit/apply/eval/curve pattern
    (the BPE merge telemetry shape). Exact: the oracle reads the
    boundary states straight out of the SAME recursive fit relation
    and re-scores the sample; the Spark side replays the identical
    driver loop, counting before each epoch's updates.

    Scale: everything here is sample-sized (QL_SAMPLE_N rows x
    QL_EPOCHS boundary states); the corpus is never touched beyond
    the feature projection the fit already pays."""
    sample = _ql_collect_sample(spark, sf_dir)

    def _n_mis(w: list[int]) -> int:
        return sum(
            1
            for r in sample
            if r["y"]
            * sum(w[j] * r[f"x{j}"] for j in range(_NF))
            <= 0
        )

    # the boundary states come from the ONE shared update loop; the
    # final state doubles as a fit-cache fill so a later apply/eval in
    # the same process skips its sample jobs
    states = list(_ql_epoch_states(sample))
    _QL_FIT_CACHE.setdefault(sf_dir, list(states[-1]))
    curve = [(epoch, _n_mis(w)) for epoch, w in enumerate(states)]
    return spark.createDataFrame(curve, "epoch long, n_misclassified long")


#: integer per-doc reward — the weak-label margin itself
#: (100·stop_hits − PCT·words): deterministic, cheap (no fit), and the
#: same signal the learned filter is trained to recover, so the RL
#: ops below stay consistent with the quality family without paying
#: the recursive-fit oracle in every composition.
_SQL_REWARD = f"""
    rewards AS (
      SELECT d.doc_id, d.source,
             CAST(100 * LEN(LIST_FILTER(STRING_SPLIT(d.text, ' '),
                            w -> LIST_CONTAINS({_STOPLIST_SQL}, w)))
                  - {QL_LABEL_PCT} * LEN(STRING_SPLIT(d.text, ' '))
                  AS BIGINT) AS reward
      FROM documents d
    )
"""


def _reward_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_hits = F.size(
        F.filter(words, lambda w: F.array_contains(stop_arr, w))
    )
    return docs.select(
        "doc_id",
        "source",
        (
            F.lit(100) * stop_hits - F.lit(QL_LABEL_PCT) * F.size(words)
        )
        .cast("long")
        .alias("reward"),
    )


@register(
    "rl_group_advantages",
    oracle=f"""
    WITH {_SQL_REWARD}
    SELECT doc_id, source,
           reward,
           CAST(COUNT(*) OVER (PARTITION BY source) * reward
                - SUM(reward) OVER (PARTITION BY source)
                AS BIGINT) AS adv_num,
           CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_group
    FROM rewards
    """,
)
def rl_group_advantages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantages for RL-style post-training data: each
    document's reward centered on its GROUP mean (group = source — the
    prompt-cohort double), the quantity a group-relative policy update
    consumes. The mean is never materialized: adv = n·r − Σr is the
    advantage SCALED by the group size, exact in int64 (the integer-
    rational rule — divide at the consumer if a float is wanted;
    compare/sort on the scaled value is exact). One window over the
    group key — a single exchange, corpus-linear.

    Scale: group-relative advantage needs only (n, Σr) per group —
    map-side-combinable partials — so the shape survives groups of any
    multiplicity; no per-group collect, no self-join."""
    r = _reward_df(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("source")
    n = F.count(F.lit(1)).over(w)
    s = F.sum("reward").over(w)
    return r.select(
        "doc_id",
        "source",
        "reward",
        (n * F.col("reward") - s).cast("long").alias("adv_num"),
        n.cast("long").alias("n_group"),
    )


@register(
    "rl_group_stats",
    oracle=f"""
    WITH {_SQL_REWARD}
    SELECT source,
           COUNT(*) AS n_group,
           CAST(SUM(reward) AS BIGINT) AS sum_reward,
           CAST(MIN(reward) AS BIGINT) AS min_reward,
           CAST(MAX(reward) AS BIGINT) AS max_reward,
           CAST(CASE WHEN MIN(reward) = MAX(reward) THEN 1 ELSE 0 END
                AS BIGINT) AS is_degenerate
    FROM rewards GROUP BY source
    """,
)
def rl_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group reward telemetry and the degenerate-group gate: a
    group whose rewards are all equal carries zero advantage signal
    (every adv_num is 0) and a group-relative pipeline DROPS it before
    the update — the GRPO-style pre-filter, reported as a flag so the
    drop is an inspectable decision (the dead-letter rule applied to
    training groups). Mean stays the exact (sum, n) rational pair.

    Scale: one aggregation over the group key with map-side partials;
    output is group-cardinality."""
    r = _reward_df(spark, sf_dir)
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_group"),
        F.sum("reward").cast("long").alias("sum_reward"),
        F.min("reward").alias("min_reward"),
        F.max("reward").alias("max_reward"),
        F.when(F.min("reward") == F.max("reward"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_degenerate"),
    )
