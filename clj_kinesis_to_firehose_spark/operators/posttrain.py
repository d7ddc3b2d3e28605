"""Round-12 continuation: post-training data assembly.

After pretraining-corpus curation (dedup, quality gates, sharding —
rounds 9-11), the next stage a training-data platform runs is
POST-training assembly: preference pairs for DPO/RLHF reward
modeling, multi-turn conversation transcripts with context-window
trimming and loss masks for SFT, tokenizer-efficiency evaluation
before committing a vocab to a 100 TB tokenization pass, and the
classic feature-engineering fits (min-max scaling, WOE-style evidence
binning) that the reward-model side of the pipeline consumes.

Everything here is exact-oracle, and every emitted fraction follows
the round-11 ADVICE rule: never ROUND a ratio on a possible decimal
half-boundary — emit either the exact integer rational pair
(numerator, denominator) or FLOOR(K * ratio) fixed-point units, both
of which are bit-stable across engines because the engines compute
the same IEEE-754 quotient and FLOOR/integer arithmetic carry no
rounding mode.

Scale design notes (per operator, details in each docstring):

* preference-pair assembly ranks inside bounded (lang, length-bucket)
  partitions — never a global window — so the rank shuffle partitions
  by a key whose group sizes are corpus-fraction-bounded.
* conversation assembly is one groupBy with a canonical in-array sort
  (the string_agg_sorted contract), so transcripts are deterministic
  under any partitioning and the only shuffle is on the conversation
  key.
* context trimming runs two window passes over the SAME partition key
  (one descending suffix-budget scan, one ascending offset scan) —
  Catalyst plans a single Exchange reused by both Sort+Window pairs.
* the scaler and the evidence binning broadcast their fitted
  statistics (3 groups / 1 row / ~30 bins) back onto the fact scan —
  the fit is a map-side-partial aggregate, the apply is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.registry import oracle, register, register_memo
from clj_kinesis_to_firehose_spark.sources import load_table
from clj_kinesis_to_firehose_spark.streaming.pipelines import run_epochs

# --- pref_pair_assembly -------------------------------------------------------

#: whitespace-token width of one preference-pair length bucket. Pairing
#: within a length bucket is the standard de-biasing move: a reward
#: model trained on pairs with large length gaps learns length, not
#: quality.
PREF_BUCKET_TOKENS = 50


def _score_docs(docs: DataFrame) -> DataFrame:
    """THE scoring projection behind every preference-pair relation —
    one definition so the batch op, the streaming partials, and the
    streaming merge cannot drift arithmetically (review finding; the
    _sql_bt_strength generator plays the same role on the oracle
    side)."""
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.floor(F.size(toks).cast("long") / PREF_BUCKET_TOKENS)
        .cast("long")
        .alias("tok_bucket"),
    )


def _cohort_extremes(scored: DataFrame) -> DataFrame:
    """max_by/min_by cohort extremes over the total-order comparator
    (ratio, ±doc_id). Input rows must carry (doc_id, source, n_tokens,
    n_distinct, lang, tok_bucket) — the ratio is re-derived here, never
    read from a stored (roundable) column, which is also what makes
    the aggregate mergeable across streaming partials."""
    ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    row = F.struct("doc_id", "source", "n_tokens", "n_distinct")
    return scored.groupBy("lang", "tok_bucket").agg(
        F.max_by(row, F.struct(ratio.alias("r"), (-F.col("doc_id")).alias("t")))
        .alias("b"),
        F.min_by(row, F.struct(ratio.alias("r"), F.col("doc_id").alias("t")))
        .alias("w"),
    )


def _pairs_from_extremes(extremes: DataFrame) -> DataFrame:
    """(chosen, rejected) projection with the exact rational margin —
    shared by the batch op and the streaming merge."""
    return extremes.filter(F.col("b.doc_id") != F.col("w.doc_id")).select(
        "lang",
        "tok_bucket",
        F.col("b.doc_id").alias("chosen_doc_id"),
        F.col("w.doc_id").alias("rejected_doc_id"),
        F.col("b.source").alias("chosen_source"),
        F.col("w.source").alias("rejected_source"),
        F.col("b.n_tokens").alias("chosen_tokens"),
        F.col("w.n_tokens").alias("rejected_tokens"),
        (
            F.col("b.n_distinct") * F.col("w.n_tokens")
            - F.col("w.n_distinct") * F.col("b.n_tokens")
        ).alias("margin_num"),
        (F.col("b.n_tokens") * F.col("w.n_tokens")).alias("margin_den"),
    )


@register(
    "pref_pair_assembly",
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
             ) AS rn_best,
             ROW_NUMBER() OVER (
               PARTITION BY lang, tok_bucket
               ORDER BY CAST(n_distinct AS DOUBLE) / n_tokens ASC, doc_id
             ) AS rn_worst
      FROM scored
    )
    SELECT b.lang, b.tok_bucket,
           b.doc_id AS chosen_doc_id, w.doc_id AS rejected_doc_id,
           b.source AS chosen_source, w.source AS rejected_source,
           b.n_tokens AS chosen_tokens, w.n_tokens AS rejected_tokens,
           b.n_distinct * w.n_tokens - w.n_distinct * b.n_tokens AS margin_num,
           b.n_tokens * w.n_tokens AS margin_den
    FROM ranked b JOIN ranked w
      ON b.lang = w.lang AND b.tok_bucket = w.tok_bucket
     AND b.rn_best = 1 AND w.rn_worst = 1
    WHERE b.doc_id <> w.doc_id
    """,
)
def pref_pair_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair (chosen, rejected) assembly for reward-model /
    DPO training: within each (lang, length-bucket) cohort, the
    highest-lexical-diversity document is `chosen` and the lowest is
    `rejected`. The pair margin is emitted as the EXACT rational
    (margin_num, margin_den) = d1/t1 - d2/t2 over a common
    denominator — integers, so no cross-engine rounding channel
    exists (the round-11 ADVICE rule).

    Ranking orders by the IEEE quotient n_distinct/n_tokens with a
    doc_id tiebreak: both engines compute the identical double and
    the identical total order, which is safe — only ROUNDING a ratio
    is a half-boundary channel, comparing it is not.

    Scale: the Spark side selects both cohort extremes in ONE
    aggregation pass — max_by/min_by over the total-order struct
    (ratio, ±doc_id) — so the whole operator is one scan plus one
    shuffle on the cohort key, with map-side partial extremes. (The
    first cut ranked with two windows and self-joined rank-1 rows:
    same relation, but two Exchanges and a join — the aggregate form
    is strictly better and the oracle pins that both formulations
    agree.) The comparator struct is unique per row (doc_id is
    unique), so the extremes are deterministic. Nothing is global,
    nothing collects.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _pairs_from_extremes(_cohort_extremes(_score_docs(docs)))


# --- pref_pair_stats ----------------------------------------------------------


def _sql_pref_pair_stats() -> str:
    return f"""
    WITH pairs AS ({oracle("pref_pair_assembly")})
    SELECT lang,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN chosen_tokens > rejected_tokens
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_chosen_longer,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN chosen_tokens > rejected_tokens
                                         THEN 1 ELSE 0 END) / COUNT(*))
                AS BIGINT) AS share_chosen_longer_u4,
           CAST(SUM(CAST(FLOOR(1000000.0 * margin_num / margin_den) AS BIGINT))
                AS BIGINT) AS sum_margin_u6
    FROM pairs GROUP BY lang
    """


@register("pref_pair_stats", oracle=_sql_pref_pair_stats())
def pref_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bias audit over the assembled preference pairs — the
    first sanity check a reward-model team runs: what share of pairs
    has the CHOSEN side longer (a length-bias smell), and the total
    quality margin. Margins are summed in integer 1e-6 fixed-point
    units (FLOOR per pair, THEN integer sum) so the aggregate is
    order-independent — summing raw doubles would make the result
    depend on partitioning, the one nondeterminism no oracle can
    absorb.

    Scale: a composite over pref_pair_assembly's bounded pair
    relation — one aggregate with map-side partials on `lang`.
    """
    pairs = pref_pair_assembly(spark, sf_dir)
    longer = F.col("chosen_tokens") > F.col("rejected_tokens")
    margin_u6 = F.floor(
        F.lit(1000000.0) * F.col("margin_num") / F.col("margin_den")
    ).cast("long")
    return pairs.groupBy("lang").agg(
        F.count("*").alias("n_pairs"),
        F.sum(longer.cast("int")).cast("long").alias("n_chosen_longer"),
        F.floor(
            F.lit(10000.0) * F.sum(longer.cast("int")) / F.count("*")
        )
        .cast("long")
        .alias("share_chosen_longer_u4"),
        F.sum(margin_u6).cast("long").alias("sum_margin_u6"),
    )


# --- pref_winrate_matrix ------------------------------------------------------


def _sql_pref_winrate_matrix() -> str:
    return f"""
    WITH pairs AS ({oracle("pref_pair_assembly")}),
    cells AS (
      SELECT chosen_source, rejected_source, COUNT(*) AS n_wins
      FROM pairs GROUP BY 1, 2
    )
    SELECT chosen_source, rejected_source, n_wins,
           CAST(SUM(n_wins) OVER (PARTITION BY rejected_source) AS BIGINT)
             AS n_losses_of_rejected,
           CAST(FLOOR(10000.0 * n_wins /
                      SUM(n_wins) OVER (PARTITION BY rejected_source))
                AS BIGINT) AS share_of_losses_u4
    FROM cells
    """


@register("pref_winrate_matrix", oracle=_sql_pref_winrate_matrix())
def pref_winrate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-source win matrix over the preference pairs — the
    relation behind an Elo/Bradley-Terry fit: how often source A's
    documents beat source B's inside a cohort. Shares are FLOOR 1e-4
    fixed-point (exact), counts are exact integers; the iterative
    Bradley-Terry solve itself belongs to the trainer, this is its
    input sufficient statistic.

    Scale: aggregates the pair relation to source-cardinality² cells,
    then one window over those CELLS (bounded by source count, never
    corpus size).
    """
    pairs = pref_pair_assembly(spark, sf_dir)
    cells = pairs.groupBy("chosen_source", "rejected_source").agg(
        F.count("*").alias("n_wins")
    )
    w = Window.partitionBy("rejected_source")
    losses = F.sum("n_wins").over(w)
    return cells.select(
        "chosen_source",
        "rejected_source",
        "n_wins",
        losses.cast("long").alias("n_losses_of_rejected"),
        F.floor(F.lit(10000.0) * F.col("n_wins") / losses)
        .cast("long")
        .alias("share_of_losses_u4"),
    )


# --- chat_conversation_assembly ------------------------------------------------

#: event_type -> chat role. Interaction events are the user speaking,
#: conversion events are the assistant's turn, errors are system turns.
CHAT_ROLE_CASE = (
    "CASE WHEN event_type IN ('view', 'click') THEN 'user' "
    "WHEN event_type IN ('purchase', 'signup') THEN 'assistant' "
    "ELSE 'system' END"
)

#: shared CTE: one line per event with its conversation key. The line
#: text embeds only integers and strings (never a formatted timestamp
#: or raw double), so both engines render byte-identical turns.
SQL_CHAT_TURNS = f"""
    SELECT user_id,
           STRFTIME(DATE_TRUNC('month', ts), '%Y-%m') AS month,
           ts, event_id,
           {CHAT_ROLE_CASE} AS role,
           '<' || {CHAT_ROLE_CASE} || '> ' || event_type || ' #'
               || CAST(event_id AS VARCHAR) AS line
    FROM events
"""

def _chat_turns(ev: DataFrame) -> DataFrame:
    """THE Spark-side twin of SQL_CHAT_TURNS — one definition of the
    role mapping, conversation key, and turn-line template shared by
    the batch assembly, the context trim, and the streaming partials
    (review finding: three verbatim copies could drift from each other
    and from the single shared SQL CTE)."""
    role = (
        F.when(F.col("event_type").isin("view", "click"), "user")
        .when(F.col("event_type").isin("purchase", "signup"), "assistant")
        .otherwise("system")
    )
    return ev.select(
        "user_id",
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        "ts",
        "event_id",
        role.alias("role"),
        F.concat(
            F.lit("<"),
            role,
            F.lit("> "),
            F.col("event_type"),
            F.lit(" #"),
            F.col("event_id").cast("string"),
        ).alias("line"),
    )



@register(
    "chat_conversation_assembly",
    oracle=f"""
    WITH turns AS ({SQL_CHAT_TURNS})
    SELECT user_id, month,
           COUNT(*) AS n_turns,
           CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_assistant_turns,
           STRING_AGG(line, CHR(10) ORDER BY ts, event_id) AS transcript
    FROM turns GROUP BY user_id, month
    """,
)
def chat_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-turn conversation assembly for SFT: events become
    role-tagged turns ('<user> click #17'), grouped into one
    conversation per (user_id, month) and flattened to a single
    newline-joined transcript in strict (ts, event_id) order. This is
    the flatten step every chat-tuning pipeline runs before
    tokenization; the role tagging is the chat template.

    Determinism: the transcript is built by sorting INSIDE the
    aggregated array on (ts, event_id) — the string_agg_sorted
    contract — so the value is identical under any partitioning;
    turn text embeds only integers/strings, never formatted floats.

    Scale: one shuffle on the conversation key; transcripts are
    conversation-sized, the natural record size of the SFT dataset
    itself. No windows, no collect.
    """
    ev = load_table(spark, sf_dir, "events")
    turns = _chat_turns(ev)
    return turns.groupBy("user_id", "month").agg(
        F.count("*").alias("n_turns"),
        F.sum((F.col("role") == "assistant").cast("int"))
        .cast("long")
        .alias("n_assistant_turns"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("transcript"),
    )


# --- chat_context_trim ---------------------------------------------------------

#: whitespace-token budget for one packed conversation context.
CHAT_CONTEXT_BUDGET = 12


@register(
    "chat_context_trim",
    oracle=f"""
    WITH turns AS ({SQL_CHAT_TURNS}),
    costed AS (
      SELECT *, LEN(STRING_SPLIT(line, ' ')) AS turn_tokens FROM turns
    ), budgeted AS (
      SELECT *,
             SUM(turn_tokens) OVER (
               PARTITION BY user_id, month ORDER BY ts DESC, event_id DESC
               ROWS UNBOUNDED PRECEDING
             ) AS suffix_tokens
      FROM costed
    ), kept AS (
      SELECT * FROM budgeted WHERE suffix_tokens <= {CHAT_CONTEXT_BUDGET}
    )
    SELECT user_id, month, event_id, role, line,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY user_id, month ORDER BY ts, event_id
           ) AS BIGINT) AS turn_idx,
           CAST(COALESCE(SUM(LENGTH(line) + 1) OVER (
             PARTITION BY user_id, month ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS start_char,
           CAST(COALESCE(SUM(LENGTH(line) + 1) OVER (
             PARTITION BY user_id, month ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + LENGTH(line) AS BIGINT) AS end_char,
           role = 'assistant' AS loss_mask
    FROM kept
    """,
)
def chat_context_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window trimming with loss-mask offsets: keep the LAST
    turns of each conversation whose cumulative token cost fits the
    budget (a suffix-sum scan from the newest turn backwards — the
    sliding-context rule every chat trainer applies), then emit each
    surviving turn with its byte offsets inside the re-packed
    transcript and loss_mask = (role == 'assistant') — exactly the
    span the SFT loss trains on, prompt turns masked out.

    Scale: both window passes (descending budget scan, ascending
    offset scan) partition by the SAME conversation key, so Catalyst
    plans one Exchange feeding two Sort+Window pairs; state per group
    is one running integer. Token costs and offsets are integers —
    no rounding channel.
    """
    ev = load_table(spark, sf_dir, "events")
    turns = _chat_turns(ev).withColumn(
        "turn_tokens", F.size(F.split("line", " ")).cast("long")
    )

    conv = Window.partitionBy("user_id", "month")
    suffix = (
        conv.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = turns.withColumn(
        "suffix_tokens", F.sum("turn_tokens").over(suffix)
    ).filter(F.col("suffix_tokens") <= CHAT_CONTEXT_BUDGET)

    fwd = conv.orderBy("ts", "event_id")
    prior_chars = (
        F.coalesce(
            F.sum(F.length("line") + 1).over(
                fwd.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
    ).cast("long")
    return kept.select(
        "user_id",
        "month",
        "event_id",
        "role",
        "line",
        F.row_number().over(fwd).cast("long").alias("turn_idx"),
        prior_chars.alias("start_char"),
        (prior_chars + F.length("line")).cast("long").alias("end_char"),
        (F.col("role") == "assistant").alias("loss_mask"),
    )


# --- corpus_sft_loss_mask -------------------------------------------------------


#: whitespace-token length of the instruction prefix (the prompt).
SFT_PROMPT_TOKENS = 8


@register(
    "corpus_sft_loss_mask",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, text, LENGTH(text) AS n_chars,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             LENGTH(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:{SFT_PROMPT_TOKENS}],
                                    ' ')) AS prompt_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(prompt_chars AS BIGINT) AS prompt_chars,
           CAST(CASE WHEN n_tokens > {SFT_PROMPT_TOKENS}
                     THEN prompt_chars + 1 ELSE n_chars END AS BIGINT)
             AS mask_start,
           CAST(n_chars AS BIGINT) AS mask_end,
           n_tokens > {SFT_PROMPT_TOKENS} AS trainable,
           CAST(CASE WHEN n_tokens > {SFT_PROMPT_TOKENS}
                THEN LEN(REGEXP_EXTRACT_ALL(SUBSTRING(text, prompt_chars + 2),
                                            '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                ELSE 0 END AS BIGINT) AS masked_bpe_tokens
    FROM split
    """,
)
def corpus_sft_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt/response loss-mask spans over raw documents: the first
    {SFT_PROMPT_TOKENS} whitespace tokens are the instruction prefix
    (the prompt), the remainder is the response the SFT loss trains
    on. Emits the 0-based character span [mask_start, mask_end) where
    loss applies (mask_start skips the separating space), whether the
    document is trainable at all (has a non-empty response), and the
    BPE-ish token count inside the masked span — the per-doc loss
    budget the epoch scheduler sums.

    The prompt boundary is computed by re-joining the first
    {SFT_PROMPT_TOKENS} split tokens — split/slice/join are
    byte-identical in both engines, unlike locale-sensitive sentence
    segmentation; the masked-span token count reuses
    text_token_count's segmentation rule verbatim.

    Scale: single scan, all codegen, no shuffle — the same shape as
    text_quality_score. The span relation joins downstream against
    the pack/shard manifests by doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    prompt_chars = F.length(
        F.array_join(F.slice(toks, 1, SFT_PROMPT_TOKENS), " ")
    )
    trainable = n_tokens > SFT_PROMPT_TOKENS
    return docs.select(
        "doc_id",
        prompt_chars.cast("long").alias("prompt_chars"),
        F.when(trainable, prompt_chars + 1)
        .otherwise(n_chars)
        .cast("long")
        .alias("mask_start"),
        n_chars.cast("long").alias("mask_end"),
        trainable.alias("trainable"),
        F.when(
            trainable,
            F.size(
                F.regexp_extract_all(
                    F.substring(F.col("text"), prompt_chars + 2, F.lit(2**30)),
                    F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"),
                    0,
                )
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("masked_bpe_tokens"),
    )


# --- tokenizer_compression_eval -------------------------------------------------


@register(
    "tokenizer_compression_eval",
    oracle="""
    WITH tok AS (
      SELECT source,
             LENGTH(text) AS n_chars,
             LEN(STRING_SPLIT(text, ' ')) AS ws_tokens,
             LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS bpe_tokens
      FROM documents
    )
    SELECT source,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           CAST(FLOOR(10000.0 * SUM(n_chars) / SUM(bpe_tokens)) AS BIGINT)
             AS chars_per_token_u4,
           CAST(FLOOR(10000.0 * SUM(bpe_tokens) / SUM(ws_tokens)) AS BIGINT)
             AS fertility_u4
    FROM tok GROUP BY source
    """,
)
def tokenizer_compression_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-efficiency evaluation per source — the go/no-go
    numbers before committing a vocab to a full-corpus tokenization
    pass: compression (chars per token; higher = cheaper training)
    and fertility (subword tokens per whitespace word; a
    language/domain skew detector — sources whose fertility is high
    get systematically fewer effective words into the same context
    window). Ratios are FLOOR 1e-4 fixed-point over exact integer
    sums.

    Scale: per-doc token counts are a scan-stage projection; one
    aggregate on `source` with map-side partials. The evaluation
    costs one corpus scan, which is why it runs BEFORE the
    full tokenize-and-pack pass, not after.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        )
        .cast("long")
        .alias("bpe_tokens"),
    )
    return tok.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("ws_tokens").cast("long").alias("total_ws_tokens"),
        F.sum("bpe_tokens").cast("long").alias("total_bpe_tokens"),
        F.floor(F.lit(10000.0) * F.sum("n_chars") / F.sum("bpe_tokens"))
        .cast("long")
        .alias("chars_per_token_u4"),
        F.floor(F.lit(10000.0) * F.sum("bpe_tokens") / F.sum("ws_tokens"))
        .cast("long")
        .alias("fertility_u4"),
    )


# --- feature_minmax_scale --------------------------------------------------------


@register(
    "feature_minmax_scale",
    oracle="""
    WITH fit AS (
      SELECT l_returnflag,
             MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           l.l_extendedprice,
           CAST(FLOOR(1000000.0 * (l.l_extendedprice - f.lo) / (f.hi - f.lo))
                AS BIGINT) AS scaled_u6
    FROM lineitem l JOIN fit f ON l.l_returnflag = f.l_returnflag
    """,
)
def feature_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped min-max scaler, fit + apply in one plan: per-group
    [lo, hi] fitted from the data, every row rescaled to [0, 1]
    emitted as FLOOR 1e-6 fixed-point. (x - lo) and the division are
    the same IEEE operations on the same doubles in both engines, and
    FLOOR of an identical double is identical — the exact-emission
    discipline for derived floats.

    Scale: the fit is a 3-row aggregate (map-side partials, one tiny
    shuffle); the apply is a BROADCAST join of those 3 rows onto the
    fact scan — zero fact shuffles, the standard fit/apply split of
    every feature pipeline. At 100 TB the fit result is still 3 rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    fit = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    return li.join(F.broadcast(fit), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.floor(
            F.lit(1000000.0)
            * (F.col("l_extendedprice") - F.col("lo"))
            / (F.col("hi") - F.col("lo"))
        )
        .cast("long")
        .alias("scaled_u6"),
    )


# --- feature_woe_binning ----------------------------------------------------------

#: fixed bin width over o_totalprice. Fixed-width binning (not NTILE)
#: is deliberate: it needs NO global sort, bins are a scan-stage
#: projection, and the bin id of a row never changes when the corpus
#: grows — the property that lets the fit be refreshed incrementally.
WOE_BIN_WIDTH = 25000.0


@register(
    "feature_woe_binning",
    oracle=f"""
    WITH labeled AS (
      SELECT CAST(FLOOR(o_totalprice / {WOE_BIN_WIDTH}) AS BIGINT) AS bin_id,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders
    ), bins AS (
      SELECT bin_id,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(1 - pos) AS BIGINT) AS n_neg
      FROM labeled GROUP BY bin_id
    ), tot AS (
      -- BIGINT casts: DuckDB SUM yields HUGEINT, whose products would
      -- surface as float64 in the driver's hash while Spark emits long
      SELECT CAST(SUM(n_pos) AS BIGINT) AS tot_pos,
             CAST(SUM(n_neg) AS BIGINT) AS tot_neg FROM bins
    )
    SELECT b.bin_id, b.n_pos, b.n_neg,
           CAST(b.n_pos * t.tot_neg AS BIGINT) AS odds_num,
           CAST(b.n_neg * t.tot_pos AS BIGINT) AS odds_den,
           CASE WHEN b.n_neg > 0 AND b.n_pos > 0
                THEN CAST(FLOOR(1000000.0 * (b.n_pos * t.tot_neg)
                                / (b.n_neg * t.tot_pos)) AS BIGINT)
                ELSE NULL END AS odds_ratio_u6
    FROM bins b CROSS JOIN tot t
    """,
)
def feature_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning sufficient statistics: fixed-width
    bins over o_totalprice, label = order fully shipped
    (o_orderstatus = 'F'), per-bin positive/negative counts and the
    EXACT odds ratio (n_pos/tot_pos)/(n_neg/tot_neg) as an integer
    rational plus FLOOR 1e-6 units. WOE itself is ln(odds_ratio) —
    strictly monotone in the emitted rational — so the log stays with
    the consumer and no transcendental enters the cross-engine hash
    (Math.log and libm may differ in the last ulp; integer rationals
    cannot).

    Bins are fixed-width, NOT NTILE: bin assignment is a scan-stage
    FLOOR with no global sort, and a row's bin never changes as data
    grows, so the fit refreshes incrementally — the same reasoning
    that moved corpus_quality_histogram off the rounded-double
    comparator in round 12.

    Scale: one aggregate to bin-cardinality rows, then a broadcast
    1-row totals join — the agg_global composition pattern. The fact
    table is scanned once.
    """
    orders = load_table(spark, sf_dir, "orders")
    labeled = orders.select(
        F.floor(F.col("o_totalprice") / WOE_BIN_WIDTH)
        .cast("long")
        .alias("bin_id"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    bins = labeled.groupBy("bin_id").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("long").alias("n_neg"),
    )
    tot = bins.agg(
        F.sum("n_pos").alias("tot_pos"), F.sum("n_neg").alias("tot_neg")
    )
    ratio_ok = (F.col("n_neg") > 0) & (F.col("n_pos") > 0)
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin_id",
        "n_pos",
        "n_neg",
        (F.col("n_pos") * F.col("tot_neg")).alias("odds_num"),
        (F.col("n_neg") * F.col("tot_pos")).alias("odds_den"),
        F.when(
            ratio_ok,
            F.floor(
                F.lit(1000000.0)
                * (F.col("n_pos") * F.col("tot_neg"))
                / (F.col("n_neg") * F.col("tot_pos"))
            ).cast("long"),
        ).alias("odds_ratio_u6"),
    )


# --- pref_bt_strength -----------------------------------------------------------

#: fixed MM iterations of the Bradley-Terry fit. Fixed (not
#: to-convergence) so the unrolled oracle and the DataFrame loop
#: compute the identical relation; production raises it and keeps the
#: same per-iteration plan.
BT_ITERS = 3

#: strength fixed-point scale (1e6 units) and the division scale used
#: inside each MM step (1e12 = strength scale squared).
BT_S0 = 1_000_000


def _sql_bt_strength(iters: int = BT_ITERS) -> str:
    """Unrolled Bradley-Terry MM iterations as chained CTEs — the
    bpe_learn_merges oracle pattern: the SQL performs the SAME
    fixed-point arithmetic per iteration, so the hash pins every
    intermediate strength, not just the final ranking. Parameterized
    by iteration count so the scaled checkpointed twin shares the ONE
    generator (the arithmetic law cannot drift between the two)."""
    head = f"""
    WITH pairs AS MATERIALIZED ({oracle("pref_pair_assembly")}),
    wins AS MATERIALIZED (
      SELECT chosen_source AS i, rejected_source AS j, COUNT(*) AS w
      FROM pairs GROUP BY 1, 2
    ),
    sources AS (
      SELECT DISTINCT i FROM (
        SELECT i FROM wins UNION ALL SELECT j AS i FROM wins
      )
    ),
    games AS MATERIALIZED (
      SELECT i, j, CAST(SUM(w) AS BIGINT) AS n FROM (
        SELECT i, j, w FROM wins
        UNION ALL
        SELECT j AS i, i AS j, w FROM wins
      ) GROUP BY i, j
    ),
    tot_wins AS MATERIALIZED (
      SELECT i, CAST(SUM(w) AS BIGINT) AS wins FROM wins GROUP BY i
    ),
    s0 AS MATERIALIZED (SELECT i, CAST({BT_S0} AS BIGINT) AS s FROM sources)
    """
    steps = []
    for k in range(1, iters + 1):
        p = k - 1
        steps.append(
            f""",
    t{k} AS MATERIALIZED (
      SELECT g.i,
             CAST(FLOOR(1000000000000.0 * g.n / (si.s + sj.s)) AS BIGINT)
               AS term
      FROM games g
      JOIN s{p} si ON g.i = si.i
      JOIN s{p} sj ON g.j = sj.i
    ),
    d{k} AS MATERIALIZED (SELECT i, CAST(SUM(term) AS BIGINT) AS d FROM t{k} GROUP BY i),
    s{k} AS MATERIALIZED (
      SELECT s{p}.i,
             CASE WHEN w.wins IS NULL OR d.d IS NULL OR d.d = 0 THEN s{p}.s
                  ELSE CAST(FLOOR(1000000000000.0 * w.wins / d.d) AS BIGINT)
             END AS s
      FROM s{p}
      LEFT JOIN tot_wins w ON s{p}.i = w.i
      LEFT JOIN d{k} d ON s{p}.i = d.i
    )"""
        )
    tail = f"""
    SELECT s.i AS source,
           s.s AS strength_u6,
           CAST(COALESCE(w.wins, 0) AS BIGINT) AS n_wins,
           CAST(COALESCE(g.n_games, 0) AS BIGINT) AS n_games,
           CAST(ROW_NUMBER() OVER (ORDER BY s.s DESC, s.i) AS BIGINT)
             AS strength_rank
    FROM s{iters} s
    LEFT JOIN tot_wins w ON s.i = w.i
    LEFT JOIN (SELECT i, SUM(n) AS n_games FROM games GROUP BY i) g
      ON s.i = g.i
    """
    return head + "".join(steps) + tail


#: process-lifetime memo of finished fits, keyed by every fit
#: parameter — the fit is a deterministic function of the immutable
#: fixture, so a second build in the same process (correctness sweep +
#: behavioral tests) would repeat ~64 iterations of identical jobs for
#: identical rows. Ops that may hit this cache register
#: executes_on_build="conditional" (warm builds are lazy).
_BT_FIT_CACHE: dict[tuple, tuple] = register_memo({})


def _bt_fit(
    spark: SparkSession,
    sf_dir: str,
    iters: int,
    checkpoint_every: int | None = None,
    driver_loop: bool = False,
) -> DataFrame:
    """Shared MM loop body for the exact fit and its scaled
    checkpointed twin — parameterized the way the oracle generator is,
    so the two registered ops cannot diverge arithmetically.

    ``driver_loop=True`` is the production fit/apply split
    (quality_linear_fit's shape, r13 verdict #2): the ONE distributed
    corpus aggregation collects the O(#sources²) win matrix, the MM
    iterations run driver-side in plain Python over it, and the fitted
    strengths return as a LocalRelation. Bit-equal to the distributed
    loop by construction — every quantity is either exact integer
    arithmetic or the identical IEEE-double FLOOR(1e12·x/y) both
    engines and Python evaluate alike (pytest pins the two paths
    row-for-row) — while skipping 64 rounds of JVM job ceremony whose
    only work was a card-catalog-sized relation."""
    key = (sf_dir, iters, checkpoint_every, driver_loop)
    hit = _BT_FIT_CACHE.get(key)
    if hit is not None:
        return spark.createDataFrame(list(hit[0]), hit[1])
    pairs = pref_pair_assembly(spark, sf_dir)
    # persist the SHARED PARENT: sources/games/tot_wins all derive from
    # wins, so caching wins is the single point that cuts the
    # corpus-sized pair-assembly scan to exactly one execution (review
    # finding: caching the three children still ran the scan 3x). The
    # persist is paired with unpersist below — the fit materializes its
    # source-cardinality result first, the bpe/PQ bounded-collect rule.
    wins = pairs.groupBy(
        F.col("chosen_source").alias("i"), F.col("rejected_source").alias("j")
    ).agg(F.count("*").alias("w")).persist()
    sources = (
        wins.select("i").union(wins.select(F.col("j").alias("i"))).distinct()
    )
    games = (
        wins.select("i", "j", "w")
        .union(wins.select(F.col("j").alias("i"), F.col("i").alias("j"), "w"))
        .groupBy("i", "j")
        .agg(F.sum("w").cast("long").alias("n"))
    )
    tot_wins = wins.groupBy("i").agg(F.sum("w").cast("long").alias("wins"))

    if driver_loop:
        import math

        from pyspark.sql import types as T

        # the bounded collects: one row per source pair / source —
        # card-catalog cardinality at any corpus size (the same rule
        # the LocalRelation truncation below follows)
        src_type = games.schema["i"].dataType
        g_rows = [(r["i"], r["j"], r["n"]) for r in games.collect()]
        tw = {r["i"]: r["wins"] for r in tot_wins.collect()}
        src = [r["i"] for r in sources.collect()]
        wins.unpersist()

        s = {i: BT_S0 for i in src}
        for _ in range(iters):
            d: dict = {}
            for i, j, n in g_rows:
                # FLOOR(1e12·n / (s_i+s_j)): double multiply then
                # divide — the exact expression the Spark loop and the
                # CTE oracle evaluate (Python floats are IEEE doubles)
                d[i] = d.get(i, 0) + math.floor(
                    (1000000000000.0 * n) / (s[i] + s[j])
                )
            s = {
                i: s[i]
                if i not in tw or d.get(i, 0) == 0
                else math.floor((1000000000000.0 * tw[i]) / d[i])
                for i in src
            }
        ng: dict = {}
        for i, _, n in g_rows:
            ng[i] = ng.get(i, 0) + n
        # rank by (strength desc, source asc) — ints and ASCII source
        # keys order identically under Python and Spark comparators
        ordered = sorted(src, key=lambda i: (-s[i], i))
        rows = [
            (i, int(s[i]), int(tw.get(i, 0)), int(ng.get(i, 0)), rank)
            for rank, i in enumerate(ordered, start=1)
        ]
        schema = T.StructType(
            [
                T.StructField("source", src_type),
                T.StructField("strength_u6", T.LongType()),
                T.StructField("n_wins", T.LongType()),
                T.StructField("n_games", T.LongType()),
                T.StructField("strength_rank", T.LongType()),
            ]
        )
        _BT_FIT_CACHE[key] = (tuple(rows), schema)
        return spark.createDataFrame(rows, schema)

    if checkpoint_every:
        # the fit's inputs are source-sized; eagerly truncating their
        # lineage ONCE means no MM iteration or checkpoint job ever
        # re-executes the corpus-sized pair-assembly scan they bottom
        # out in (review finding: the lazy chain re-ran that scan about
        # twice per iteration across the scaled run's jobs).
        # Truncation is the MLlib driver-loop pattern — collect the
        # source-cardinality relation and rebuild it as a
        # LocalRelation — NOT localCheckpoint: measured at 64
        # iterations (r13), the checkpoint path's per-segment cost
        # grew from 3 s to 17 s and OOM'd a default-heap driver around
        # iteration 24 even though the logical plan stayed truncated
        # (the accumulation is inside the JVM's checkpoint/block
        # machinery), while the LocalRelation loop is flat for all 64.
        # Bounded by design: these relations are card-catalog sized
        # (one row per source / source pair), never corpus-sized —
        # the same rule the final result collect follows.
        games = spark.createDataFrame(games.collect(), games.schema)
        tot_wins = spark.createDataFrame(tot_wins.collect(), tot_wins.schema)
        sources = spark.createDataFrame(sources.collect(), sources.schema)
        # nothing below touches the corpus again — release the scan
        # cache before the loop instead of after it
        wins.unpersist()

    s = sources.select("i", F.lit(BT_S0).cast("long").alias("s"))
    for it in range(1, iters + 1):
        terms = (
            games.alias("g")
            .join(s.alias("si"), F.col("g.i") == F.col("si.i"))
            .join(s.alias("sj"), F.col("g.j") == F.col("sj.i"))
            .select(
                F.col("g.i").alias("i"),
                F.floor(
                    F.lit(1000000000000.0)
                    * F.col("g.n")
                    / (F.col("si.s") + F.col("sj.s"))
                )
                .cast("long")
                .alias("term"),
            )
        )
        denom = terms.groupBy("i").agg(F.sum("term").cast("long").alias("d"))
        s = (
            s.join(tot_wins, "i", "left")
            .join(denom, "i", "left")
            .select(
                "i",
                F.when(
                    F.col("wins").isNull()
                    | F.col("d").isNull()
                    | (F.col("d") == 0),
                    F.col("s"),
                )
                .otherwise(
                    F.floor(
                        F.lit(1000000000000.0) * F.col("wins") / F.col("d")
                    ).cast("long")
                )
                .alias("s"),
            )
        )
        if checkpoint_every and it % checkpoint_every == 0 and it < iters:
            # lineage truncation: without this, the plan for iteration
            # N nests ~3^N copies of the per-step subtree (the MM step
            # references the strength relation three times: si + sj in
            # the term join, plus the update's base) and analysis cost
            # explodes — the bpe_learn_merges_scaled rule applied to
            # the strength relation, via driver round-trip (see the
            # input truncation above for why not localCheckpoint; the
            # relation is one row per source, so the collect is
            # card-catalog bounded).
            s = spark.createDataFrame(s.collect(), s.schema)
    n_games = games.groupBy("i").agg(F.sum("n").alias("n_games"))
    result = (
        s.join(tot_wins, "i", "left")
        .join(n_games, "i", "left")
        .select(
            F.col("i").alias("source"),
            F.col("s").alias("strength_u6"),
            F.coalesce(F.col("wins"), F.lit(0)).cast("long").alias("n_wins"),
            F.coalesce(F.col("n_games"), F.lit(0))
            .cast("long")
            .alias("n_games"),
            F.row_number()
            .over(
                Window.orderBy(F.col("s").desc(), F.col("i"))
            )
            .cast("long")
            .alias("strength_rank"),
        )
    )
    # materialize the source-cardinality relation, then release the
    # cache — the persist/unpersist pairing the repo uses everywhere
    # (a lazily-returned result would pin the cache forever)
    try:
        rows = result.collect()
    finally:
        wins.unpersist()
    _BT_FIT_CACHE[key] = (tuple(rows), result.schema)
    return spark.createDataFrame(rows, result.schema)


@register(
    "pref_bt_strength",
    executes_on_build="conditional",
    oracle=_sql_bt_strength(),
)
def pref_bt_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry source-strength fit over the preference pairs —
    the trainer-side consumer of pref_winrate_matrix's sufficient
    statistic, run as BT_ITERS minorize-maximize iterations:
    s_i <- W_i / sum_j n_ij / (s_i + s_j). Every intermediate value is
    integer fixed-point (strengths in 1e-6 units, per-pair MM terms
    FLOORed to integers BEFORE the per-source sum), so the iteration
    is deterministic under any partitioning and the unrolled-CTE
    oracle reproduces it bit-for-bit — the bpe_learn_merges exactness
    pattern applied to an iterative numeric fit. Sources with no wins
    (or an empty denominator) keep their prior strength rather than
    dividing by zero.

    Scale: state is one row per SOURCE (corpus-card cardinality, not
    corpus cardinality); each iteration is two joins of the games
    relation against the strength relation plus a source-keyed sum.
    The one collect is the final source-cardinality relation itself
    (bounded at any corpus size — the bpe/PQ rule), which is what
    lets the fit release its cached wins input before returning.
    This op IS the distributed-iteration exactness proof;
    pref_bt_strength_scaled (r14) runs the same MM arithmetic
    driver-side over the one collected win matrix — the production
    fit/apply split — and _bt_fit's ``checkpoint_every`` branch keeps
    the distributed-loop lineage-truncation form alive for the
    bit-equality pytest that pins driver == distributed.

    r16 (2×-tail triage): the registered fit now runs WITH
    per-iteration lineage truncation (``checkpoint_every=1``, the
    LocalRelation round-trip of the source-cardinality strength
    relation — the documented safe truncation). Without it, each MM
    iteration references the strength relation three times, so the
    lazily-chained N=3 plan nests 3³ copies of the games/wins subtree
    — measured 6.64 s of pure plan/exchange ceremony for 10 sources
    (the captured pref_bt_mm_iter plan carries 40 Exchanges).
    Arithmetic is unchanged — the iterations still execute as
    distributed joins + aggregations — and
    test_bt_driver_loop_bit_equals_distributed pins the checkpointed
    form bit-equal to the driver loop; the oracle hash pins it to the
    unrolled CTE.
    """
    return _bt_fit(spark, sf_dir, BT_ITERS, checkpoint_every=1)


#: iteration count for the scaled twin — a production to-convergence
#: depth; since r14 the iterations run driver-side over the collected
#: O(#sources²) win matrix (the distributed aggregation is unchanged).
BT_ITERS_SCALED = 64


@register(
    "pref_bt_strength_scaled",
    executes_on_build="conditional",
    oracle=_sql_bt_strength(BT_ITERS_SCALED),
)
def pref_bt_strength_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of the BT fit, run to BT_ITERS_SCALED MM
    iterations as a fit/apply split (r14, r13 verdict #2): the ONE
    corpus-scale step is the distributed win-matrix aggregation; the
    64 MM iterations then run DRIVER-SIDE over the collected
    O(#sources²) matrix — quality_linear_fit's sample-bounded-fit
    shape — and the strengths return as a LocalRelation. The r13 form
    paid 64 rounds of Spark job ceremony (60.8 s in the driver bench,
    ~6× the next-heaviest op) to fit a card-catalog-sized matrix;
    the driver loop is bit-equal by construction (exact integer sums
    plus the identical IEEE-double FLOOR(1e12·x/y) in both runtimes)
    and hash-EXACT against the SAME 64-level unrolled MATERIALIZED-CTE
    oracle the r13 distributed run matched, which is the proof the
    rewrite changed cost, not semantics.

    The distributed MM loop stays registered as ``pref_bt_strength``
    (BT_ITERS iterations, plus the LocalRelation-truncation path in
    :func:`_bt_fit` for any caller that wants a checkpointed cluster
    fit — see its r13 notes on why truncation is a driver round-trip,
    not localCheckpoint); test_posttrain_ops pins the driver-side and
    distributed fits row-for-row bit-equal at equal iteration count.

    Scale: the collect is one row per source pair — kilobytes at any
    corpus size — and iteration cost is microseconds, so production
    runs this to convergence (hundreds of steps); the corpus is
    touched exactly once. (The collect executes jobs at build time,
    hence executes_on_build.)
    """
    return _bt_fit(spark, sf_dir, BT_ITERS_SCALED, driver_loop=True)


# --- crawl_politeness_budget ------------------------------------------------------

#: total page-fetch budget one crawl cycle may spend across all hosts.
CRAWL_BUDGET = 10_000


@register(
    "crawl_politeness_budget",
    oracle=f"""
    WITH hosts AS (
      SELECT source AS host, COUNT(*) AS n_docs,
             CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
             CAST(FLOOR(1000000.0 * SQRT(COUNT(*))) AS BIGINT) AS weight_u6
      FROM documents GROUP BY source
    ), alloc AS (
      SELECT *,
             CAST(SUM(weight_u6) OVER () AS BIGINT) AS tot_weight_u6,
             CAST(FLOOR({CRAWL_BUDGET}.0 * weight_u6 /
                        SUM(weight_u6) OVER ()) AS BIGINT) AS quota_floor,
             CAST(({CRAWL_BUDGET} * weight_u6) %
                  CAST(SUM(weight_u6) OVER () AS BIGINT) AS BIGINT)
               AS remainder
      FROM hosts
    ), leftover AS (
      SELECT CAST({CRAWL_BUDGET} - SUM(quota_floor) AS BIGINT) AS n_extra
      FROM alloc
    )
    SELECT a.host, a.n_docs, a.total_chars, a.weight_u6, a.quota_floor,
           a.quota_floor
             + CASE WHEN ROW_NUMBER() OVER (ORDER BY a.remainder DESC, a.host)
                         <= l.n_extra
                    THEN 1 ELSE 0 END AS quota
    FROM alloc a CROSS JOIN leftover l
    """,
)
def crawl_politeness_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness allocation: a global per-cycle fetch
    budget split across hosts proportional to sqrt(host size) — the
    sublinear-politeness rule that keeps big hosts from monopolizing
    the frontier — with the fractional seats assigned by the
    largest-remainder method so the quotas sum EXACTLY to the budget.
    Everything is integer: weights are FLOOR(1e6*sqrt(n)) (IEEE sqrt
    is correctly rounded, so both engines produce the identical
    double), the total weight is an integer sum (order-free), the
    floor quota divides two integers, and the remainder is integer
    modulo — no double ever aggregates.

    Scale: one aggregate to host cardinality, then windows over HOST
    rows only (the frontier allocation table is host-sized at any
    corpus scale). At 10^9 pages the same plan emits one row per host.

    Sibling allocator: corpus_mixture_reweight (curation_r14.py) pins
    the same largest-remainder rule with exact INTEGER floor division
    on both engines; this op's symmetric FLOOR(double) form is safe at
    its magnitudes (budget·weight ≤ 1e12 < 2^53) and stays as
    registered — the two are intentionally the rule's two arithmetic
    strengths, not accidental copies.
    """
    docs = load_table(spark, sf_dir, "documents")
    hosts = docs.groupBy(F.col("source").alias("host")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.floor(F.lit(1000000.0) * F.sqrt(F.count("*")))
        .cast("long")
        .alias("weight_u6"),
    )
    every = Window.partitionBy()
    alloc = hosts.select(
        "*",
        F.sum("weight_u6").over(every).cast("long").alias("tot_weight_u6"),
    ).select(
        "*",
        F.floor(
            F.lit(float(CRAWL_BUDGET)) * F.col("weight_u6") / F.col("tot_weight_u6")
        )
        .cast("long")
        .alias("quota_floor"),
        (F.lit(CRAWL_BUDGET) * F.col("weight_u6") % F.col("tot_weight_u6"))
        .cast("long")
        .alias("remainder"),
    )
    leftover = alloc.agg(
        (F.lit(CRAWL_BUDGET) - F.sum("quota_floor")).cast("long").alias("n_extra")
    )
    seat_rank = F.row_number().over(
        Window.orderBy(F.col("remainder").desc(), F.col("host"))
    )
    return alloc.crossJoin(F.broadcast(leftover)).select(
        "host",
        "n_docs",
        "total_chars",
        "weight_u6",
        "quota_floor",
        (
            F.col("quota_floor")
            + F.when(seat_rank <= F.col("n_extra"), 1).otherwise(0)
        ).alias("quota"),
    )


# --- stream_chat_assembly ----------------------------------------------------------


@register(
    "stream_chat_assembly",
    executes_on_build=True,
    oracle=oracle("chat_conversation_assembly"),
)
def stream_chat_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation assembly IN the ingest stream: events arrive as
    micro-batches and foreachBatch writes each batch's PARTIAL
    conversations — (conversation key, turn count, assistant count,
    sorted turn-struct array) — epoch-keyed; the final pass merges
    partials by flattening the arrays and re-running the SAME
    canonical (ts, event_id) in-array sort. Because the sort is
    content-canonical (never arrival-order), merged transcripts equal
    the batch build EXACTLY — same oracle as
    chat_conversation_assembly: micro-batch boundaries cannot change
    a transcript. This is the mergeable-partials proof for ORDERED
    string aggregation, the one aggregate shape whose merge step is
    not a plain SUM.

    Scale: per batch one conversation-keyed agg over batch rows;
    partials are conversation-sized; the merge flattens K
    batch-partials per conversation (K = slice count, bounded).
    """
    from clj_kinesis_to_firehose_spark.sources.streams import (
        read_event_stream,
        write_replay_slices,
    )

    replay = write_replay_slices(spark, sf_dir, n_slices=4)

    def assemble_batch(batch_df: DataFrame, epoch: int) -> DataFrame:
        return _chat_turns(batch_df).groupBy("user_id", "month").agg(
            F.count("*").alias("n_turns"),
            F.sum((F.col("role") == "assistant").cast("int"))
            .cast("long")
            .alias("n_assistant_turns"),
            F.collect_list(F.struct("ts", "event_id", "line")).alias("turns"),
        )

    merged = (
        run_epochs(read_event_stream(spark, replay), assemble_batch)
        .groupBy("user_id", "month")
        .agg(
            F.sum("n_turns").cast("long").alias("n_turns"),
            F.sum("n_assistant_turns").cast("long").alias("n_assistant_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(F.flatten(F.collect_list("turns"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("transcript"),
        )
    )
    return merged


# --- pref_train_manifest ---------------------------------------------------------

#: shard count for the DPO training manifest (stateless hash shards —
#: the corpus_shard_manifest rule applied to pairs).
PREF_SHARDS = 4


def _sql_pref_train_manifest() -> str:
    return f"""
    WITH pairs AS ({oracle("pref_pair_assembly")}),
    placed AS (
      SELECT *,
             CAST(('0x' || SUBSTR(MD5(lang || '|' ||
                                      CAST(tok_bucket AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 100 AS cohort_bucket,
             CAST(('0x' || SUBSTR(MD5(CAST(chosen_doc_id AS VARCHAR)
                                      || ':' ||
                                      CAST(rejected_doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) % {PREF_SHARDS} AS shard_id
      FROM pairs
    )
    SELECT lang, tok_bucket, chosen_doc_id, rejected_doc_id,
           chosen_source, rejected_source,
           CASE WHEN cohort_bucket < 80 THEN 'train'
                WHEN cohort_bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(CASE WHEN cohort_bucket < 80 THEN shard_id
                     ELSE NULL END AS BIGINT) AS shard_id,
           CAST(FLOOR(1000000.0 * margin_num / margin_den) AS BIGINT)
             AS margin_u6
    FROM placed
    """


@register("pref_train_manifest", oracle=_sql_pref_train_manifest())
def pref_train_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-training capstone (corpus_train_manifest's DPO twin):
    preference pairs x leakage-safe split x stateless shard, in one
    relation a trainer consumes directly. The split hashes the COHORT
    key (lang, tok_bucket) — never the document — so both sides of a
    pair land in the same split by construction and near-identical
    prompts can't straddle train/test (the split_group_holdout rule
    applied to pairs); eval pairs carry a NULL shard (they are never
    sharded for training). Shards hash the pair identity — stateless,
    so re-runs and late-arriving pairs shard identically with no
    global coordination.

    Scale: two scan-stage md5 projections over the pair relation —
    zero additional shuffles beyond pref_pair_assembly itself. The
    portable-hash rule (md5 hex head -> integer) is the engine's ONE
    split/shard primitive, shared with sample_hash_split and
    corpus_shard_manifest.
    """
    pairs = pref_pair_assembly(spark, sf_dir)
    cohort_bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("lang"),
                        F.lit("|"),
                        F.col("tok_bucket").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("chosen_doc_id").cast("string"),
                        F.lit(":"),
                        F.col("rejected_doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % PREF_SHARDS
    )
    split = (
        F.when(cohort_bucket < 80, "train")
        .when(cohort_bucket < 90, "val")
        .otherwise("test")
    )
    return pairs.select(
        "lang",
        "tok_bucket",
        "chosen_doc_id",
        "rejected_doc_id",
        "chosen_source",
        "rejected_source",
        split.alias("split"),
        F.when(cohort_bucket < 80, shard).cast("long").alias("shard_id"),
        F.floor(F.lit(1000000.0) * F.col("margin_num") / F.col("margin_den"))
        .cast("long")
        .alias("margin_u6"),
    )


# --- corpus_dedup_savings ---------------------------------------------------------


@register(
    "corpus_dedup_savings",
    oracle="""
    WITH keepers AS (
      SELECT text, MIN(doc_id) AS keeper_doc_id FROM documents GROUP BY text
    ), marked AS (
      SELECT d.source, d.n_chars,
             CASE WHEN d.doc_id <> k.keeper_doc_id THEN 1 ELSE 0 END AS is_dup
      FROM documents d JOIN keepers k ON d.text = k.text
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dupes,
           CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
           CAST(SUM(CASE WHEN is_dup = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS bytes_saved,
           CAST(FLOOR(10000.0 * SUM(CASE WHEN is_dup = 1 THEN n_chars
                                         ELSE 0 END) / SUM(n_chars))
                AS BIGINT) AS savings_share_u4
    FROM marked GROUP BY source
    """,
)
def corpus_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ROI report a storage review asks for: per source, how
    many rows and how many bytes exact dedup removes (keeper = min
    doc_id per identical text, dedup_exact's rule restated on the row
    side). The savings share is FLOOR 1e-4 fixed-point over exact
    integer byte sums.

    Scale: one shuffle on the text key to find keepers (the same
    shuffle dedup_exact already pays), a join back to rows, one
    source-keyed aggregate with map-side partials. The keeper join is
    deliberately UNHINTED: at bench scale Catalyst broadcasts the
    keeper relation; at 100 TB (keepers corpus-sized) AQE falls back
    to a sort-merge join that can reuse the groupBy's text-key hash
    partitioning — the same leave-it-to-AQE rule join_star_multiway's
    customer side follows.
    """
    docs = load_table(spark, sf_dir, "documents")
    keepers = docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id")
    )
    marked = docs.join(keepers, "text").select(
        "source",
        "n_chars",
        (F.col("doc_id") != F.col("keeper_doc_id")).cast("int").alias("is_dup"),
    )
    saved = F.sum(F.when(F.col("is_dup") == 1, F.col("n_chars")).otherwise(0))
    return marked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dupes"),
        F.sum("n_chars").cast("long").alias("total_bytes"),
        saved.cast("long").alias("bytes_saved"),
        F.floor(F.lit(10000.0) * saved / F.sum("n_chars"))
        .cast("long")
        .alias("savings_share_u4"),
    )


# --- udf_arrow_scalar --------------------------------------------------------------


@register(
    "udf_arrow_scalar",
    oracle="""
    SELECT event_id,
           user_id * 31 + LENGTH(event_type) AS checksum
    FROM events WHERE event_id < 2000
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python scalar UDF (`useArrow=True`) — the
    Spark 4 middle path between the row-pickling K1 contract and the
    explicitly-vectorized K2 pandas_udf: the author writes a plain
    per-row Python function and the engine batches rows over Arrow
    transparently. Completes the K-family's serialization matrix
    (pickled row / Arrow-batched row / pandas series / pandas
    group / Arrow table / UDTF).

    Scale: Arrow batching removes the per-row pickle tax but this is
    still a Python-boundary crossing — the house rule stands (built-in
    expressions first); the op exists to prove the contract, on a
    filtered slice, like K1.
    """
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def checksum(user_id: int, event_type: str) -> int:
        return user_id * 31 + len(event_type)

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id", checksum("user_id", "event_type").alias("checksum")
    )


# --- pref_bt_calibration -----------------------------------------------------------


def _sql_pref_bt_calibration() -> str:
    return f"""
    WITH bt AS ({_sql_bt_strength()}),
    pairs AS ({oracle("pref_pair_assembly")}),
    wins AS (
      SELECT chosen_source AS i, rejected_source AS j, COUNT(*) AS w
      FROM pairs GROUP BY 1, 2
    ),
    games AS (
      SELECT i, j, CAST(SUM(w) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN fwd THEN w ELSE 0 END) AS BIGINT) AS w_i
      FROM (
        SELECT i, j, w, TRUE AS fwd FROM wins
        UNION ALL
        SELECT j AS i, i AS j, w, FALSE AS fwd FROM wins
      ) GROUP BY i, j
    ),
    scored AS (
      SELECT g.i, g.j, g.n, g.w_i,
             CAST(FLOOR(10.0 * si.strength_u6 /
                        (si.strength_u6 + sj.strength_u6)) AS BIGINT) AS bin_id,
             CAST(FLOOR(10000.0 * si.strength_u6 /
                        (si.strength_u6 + sj.strength_u6)) AS BIGINT)
               AS pred_u4
      FROM games g
      JOIN bt si ON g.i = si.source
      JOIN bt sj ON g.j = sj.source
    )
    SELECT bin_id,
           COUNT(*) AS n_matchups,
           CAST(SUM(n) AS BIGINT) AS n_games,
           CAST(SUM(w_i) AS BIGINT) AS n_wins,
           CAST(SUM(pred_u4) AS BIGINT) AS sum_pred_u4,
           CAST(FLOOR(10000.0 * SUM(w_i) / SUM(n)) AS BIGINT)
             AS emp_winrate_u4
    FROM scored GROUP BY bin_id
    """


@register(
    "pref_bt_calibration",
    # composes pref_bt_strength, whose build performs the bounded
    # final collect on a COLD fit but is a pure memo read when the fit
    # already ran this process (_BT_FIT_CACHE) — either behavior is
    # legitimate, hence conditional
    executes_on_build="conditional",
    oracle=_sql_pref_bt_calibration(),
)
def pref_bt_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the Bradley-Terry fit — the eval that
    closes the fit loop: for every ordered source matchup (i, j), the
    model's predicted win probability is the exact rational
    s_i/(s_i+s_j) (integer strengths — the quotient is the identical
    IEEE double in both engines); matchups are binned by predicted
    decile and each bin compares the summed prediction against the
    EMPIRICAL win rate. A calibrated fit puts emp_winrate_u4 near
    sum_pred_u4/n_matchups per bin. All emissions are integer counts
    or FLOOR fixed-point — the no-transcendental rule holds through
    fit AND eval.

    Scale: joins the source-cardinality strength relation onto
    source-squared matchup cells; bins are 10 rows. Nothing touches
    corpus-sized data beyond what pref_pair_assembly already paid.
    """
    pairs = pref_pair_assembly(spark, sf_dir)
    bt = pref_bt_strength(spark, sf_dir).select("source", "strength_u6")
    wins = pairs.groupBy(
        F.col("chosen_source").alias("i"), F.col("rejected_source").alias("j")
    ).agg(F.count("*").alias("w"))
    # r16 (2×-tail triage, the r15 bounded-pin pattern): games unions
    # wins with its own swap, so without a pin the corpus-sized
    # pair-assembly subtree is built once PER UNION SIDE (scan_audit:
    # 2× documents). wins is |sources|²-bounded — sketch-class state —
    # and the lazy pin materializes inside this query's own execution.
    wins = wins.localCheckpoint(eager=False)
    games = (
        wins.select("i", "j", "w", F.lit(True).alias("fwd"))
        .union(
            wins.select(
                F.col("j").alias("i"),
                F.col("i").alias("j"),
                "w",
                F.lit(False).alias("fwd"),
            )
        )
        .groupBy("i", "j")
        .agg(
            F.sum("w").cast("long").alias("n"),
            F.sum(F.when(F.col("fwd"), F.col("w")).otherwise(0))
            .cast("long")
            .alias("w_i"),
        )
    )
    scored = (
        games.join(bt.withColumnRenamed("source", "i"), "i")
        .withColumnRenamed("strength_u6", "s_i")
        .join(bt.withColumnRenamed("source", "j"), "j")
        .withColumnRenamed("strength_u6", "s_j")
        .select(
            "n",
            "w_i",
            F.floor(
                F.lit(10.0) * F.col("s_i") / (F.col("s_i") + F.col("s_j"))
            )
            .cast("long")
            .alias("bin_id"),
            F.floor(
                F.lit(10000.0) * F.col("s_i") / (F.col("s_i") + F.col("s_j"))
            )
            .cast("long")
            .alias("pred_u4"),
        )
    )
    return scored.groupBy("bin_id").agg(
        F.count("*").alias("n_matchups"),
        F.sum("n").cast("long").alias("n_games"),
        F.sum("w_i").cast("long").alias("n_wins"),
        F.sum("pred_u4").cast("long").alias("sum_pred_u4"),
        F.floor(F.lit(10000.0) * F.sum("w_i") / F.sum("n"))
        .cast("long")
        .alias("emp_winrate_u4"),
    )


# --- dq_freshness_lag ----------------------------------------------------------------


@register(
    "dq_freshness_lag",
    oracle="""
    WITH per_type AS (
      SELECT event_type, MAX(ts) AS latest_ts, COUNT(*) AS n_events
      FROM events GROUP BY event_type
    ), head AS (SELECT MAX(latest_ts) AS head_ts FROM per_type)
    SELECT p.event_type, p.latest_ts, p.n_events,
           CAST(FLOOR(EPOCH_US(h.head_ts - p.latest_ts) / 60000000.0)
                AS BIGINT) AS lag_minutes
    FROM per_type p CROSS JOIN head h
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion freshness audit — the first dashboard panel an
    on-call engineer checks on a multi-producer stream: per event
    type, the newest record's timestamp and its lag in whole minutes
    behind the stream head (the max across ALL types). A producer
    that silently stopped shows as a growing lag long before volume
    alarms fire. Lag is integer minutes via FLOOR of an integer
    second difference — exact.

    Scale: one aggregate to event-type cardinality plus a broadcast
    1-row head — the agg_global composition pattern; the base scan
    reads only (event_type, ts).
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"), F.count("*").alias("n_events")
    )
    head = per_type.agg(F.max("latest_ts").alias("head_ts"))
    return per_type.crossJoin(F.broadcast(head)).select(
        "event_type",
        "latest_ts",
        "n_events",
        # integer MICROSECONDS on both sides: unix_timestamp() truncates
        # to whole seconds while DuckDB's EPOCH keeps the fraction, so a
        # second-truncated Spark lag could land on the other side of a
        # minute boundary from the oracle's exact interval (review
        # finding). unix_micros == EPOCH_US exactly; one FLOOR each.
        F.floor(
            (
                F.unix_micros("head_ts") - F.unix_micros("latest_ts")
            ).cast("double")
            / 60000000.0
        )
        .cast("long")
        .alias("lag_minutes"),
    )


# --- stream_pref_pair_ingest -----------------------------------------------------


@register(
    "stream_pref_pair_ingest",
    executes_on_build=True,
    oracle=oracle("pref_pair_assembly"),
)
def stream_pref_pair_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair maintenance IN the ingest stream: documents
    arrive as micro-batches, foreachBatch writes each batch's PARTIAL
    cohort extremes (max_by/min_by over the batch, epoch-keyed), and
    the final pass re-aggregates the partials with the SAME comparator
    — cohort extremes are mergeable aggregates (max of maxes is the
    max), so the merged pair relation equals the batch build EXACTLY
    (same oracle as pref_pair_assembly). This is how a standing DPO
    dataset stays current as the corpus grows: per batch you touch
    batch rows plus a cohort-sized partial, never the corpus.

    The comparator must travel WITH the partial: each partial row
    stores (n_tokens, n_distinct) so the merge re-derives the ratio —
    storing a rounded score instead would reintroduce the cross-engine
    half-boundary channel AND break merge associativity.

    Scale: per batch one cohort-keyed aggregate over batch rows;
    partials are cohort-sized; the merge aggregates K bounded
    partials per cohort.
    """
    from clj_kinesis_to_firehose_spark.sources.streams import (
        DOCS_RAW_SCHEMA,
        read_replay,
        write_doc_replay,
    )

    replay_dir = write_doc_replay(spark, sf_dir, n_slices=4)
    partials = run_epochs(
        read_replay(spark, replay_dir, DOCS_RAW_SCHEMA),
        lambda batch_df, epoch: _cohort_extremes(_score_docs(batch_df)),
    )
    # merge: flatten both partial sides back to candidate ROWS and
    # re-run the ONE _cohort_extremes definition over them — the ratio
    # comparator is re-derived from the stored (n_tokens, n_distinct),
    # so merge arithmetic is identical to batch arithmetic by
    # construction (shared helper, review finding)
    cand = partials.select(
        "lang", "tok_bucket", F.col("b.*")
    ).union(partials.select("lang", "tok_bucket", F.col("w.*")))
    return _pairs_from_extremes(_cohort_extremes(cand))


# --- scan_xml_roundtrip -------------------------------------------------------------


@register(
    "scan_xml_roundtrip",
    executes_on_build=True,
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink — Spark 4's built-in XML data source (the
    spark-xml package folded into core), the remaining first-class
    file format beside parquet/ORC/CSV/JSON/Avro already covered by
    the roundtrip family. Writes the documents table (minus the free
    text, whose unescaped angle brackets are exactly what you don't
    put IN the markup) as row-tagged XML and reads it back; the
    roundtrip must be the identity against the source table.

    Scale: XML is a row-oriented text format — no column pruning, no
    pushdown, no vectorized reader — so the loader standardizes on
    parquet and this op exists for the INGEST face: feeds and vendor
    drops arrive as XML, get parsed once in parallel (the reader
    splits by rowTag across tasks), and land in columnar storage.
    The docstring is the warning label: never serve queries off it.
    """
    from clj_kinesis_to_firehose_spark.sources import scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = scratch_dir("kf_xml_roundtrip_")
    (
        docs.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "documents")
        .option("rowTag", "document")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .schema("doc_id long, lang string, source string, n_chars long")
        .option("rowTag", "document")
        .load(out)
    )
    # explicit schema: keeps the read single-pass (XML inference costs
    # a full extra scan — the scan_formats_roundtrip rule) and makes
    # the result schema data-independent (inference would drop an
    # all-null column and coerce numeric-looking strings)
    return back.select("doc_id", "lang", "source", "n_chars")


# --- stream_freshness_monitor -------------------------------------------------------


@register(
    "stream_freshness_monitor",
    executes_on_build=True,
    oracle=oracle("dq_freshness_lag"),
)
def stream_freshness_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness tracking IN the ingest stream: each micro-batch
    writes its per-type (latest_ts, n_events) partial epoch-keyed; the
    final pass merges partials by MAX(latest_ts) / SUM(n_events) and
    recomputes the lag against the merged head. MAX and SUM are the
    textbook mergeable aggregates, so the streamed monitor equals the
    batch audit EXACTLY (same oracle as dq_freshness_lag) — which is
    the property that lets an on-call dashboard read the lag from
    cheap per-batch state instead of scanning the stream's history.

    Scale: per batch one event-type-cardinality aggregate over batch
    rows; the merge folds K bounded partials.
    """
    from clj_kinesis_to_firehose_spark.sources.streams import (
        read_event_stream,
        write_replay_slices,
    )

    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    per_type = (
        run_epochs(
            read_event_stream(spark, replay),
            lambda batch_df, epoch: batch_df.groupBy("event_type").agg(
                F.max("ts").alias("latest_ts"), F.count("*").alias("n_events")
            ),
        )
        .groupBy("event_type")
        .agg(
            F.max("latest_ts").alias("latest_ts"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )
    head = per_type.agg(F.max("latest_ts").alias("head_ts"))
    return per_type.crossJoin(F.broadcast(head)).select(
        "event_type",
        "latest_ts",
        "n_events",
        F.floor(
            (
                F.unix_micros("head_ts") - F.unix_micros("latest_ts")
            ).cast("double")
            / 60000000.0
        )
        .cast("long")
        .alias("lag_minutes"),
    )


# --- dq_bot_rate_profile ------------------------------------------------------------

#: an actor producing more than this many events per active minute is
#: flagged — the rate face of bot filtering (the volume face is the
#: crawl politeness budget).
BOT_RATE_U4 = 15_000  # 1.5 events per active minute, in 1e-4 units

#: minimum events before a rate judgment is meaningful.
BOT_MIN_EVENTS = 50


@register(
    "dq_bot_rate_profile",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             COUNT(DISTINCT DATE_TRUNC('minute', ts)) AS active_minutes
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(active_minutes AS BIGINT) AS active_minutes,
           CAST(FLOOR(10000.0 * n_events / active_minutes) AS BIGINT)
             AS rate_u4,
           n_events >= {BOT_MIN_EVENTS}
             AND FLOOR(10000.0 * n_events / active_minutes)
                 > {BOT_RATE_U4} AS bot_flag
    FROM per_user
    """,
)
def dq_bot_rate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-rate profiling — the actor-level filter every crawl/event
    corpus runs before its text enters a training mix: events per
    ACTIVE minute (distinct minutes with activity, so an actor who
    bursts 100 events in 2 minutes profiles as 50/min, not as diluted
    by idle hours). The flag requires both a minimum volume and a
    rate above threshold; the rate is FLOOR 1e-4 fixed-point over
    exact integer counts.

    Scale: the distinct-minute count shuffles (user, minute) once
    with map-side partials, then one user-keyed aggregate — actor
    cardinality drives output size. Downstream joins the flag against
    the documents-by-actor relation to drop bot text before dedup
    even runs (cheapest filter first).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct(F.date_trunc("minute", "ts"))
        .cast("long")
        .alias("active_minutes"),
    )
    rate = F.floor(
        F.lit(10000.0) * F.col("n_events") / F.col("active_minutes")
    ).cast("long")
    return per_user.select(
        "user_id",
        "n_events",
        "active_minutes",
        rate.alias("rate_u4"),
        (
            (F.col("n_events") >= BOT_MIN_EVENTS) & (rate > BOT_RATE_U4)
        ).alias("bot_flag"),
    )
