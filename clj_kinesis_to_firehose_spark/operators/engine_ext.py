"""Round-12 continuation: engine-breadth and pipeline-governance
operators.

Two declarative SQL front-door features a reference user would reach
for on day one — recursive CTEs (hierarchy walks Catalyst can't
express non-recursively) and SQL pipe syntax — plus the governance /
training-loop relations around them: an ℓ-diversity release gate (the
sensitive-attribute complement of dq_k_anonymity's group-size gate),
watermark-scoped streaming dedup with BOUNDED state, an
exactly-once-by-construction idempotent batch sink proven by a full
redelivery replay, the unigram-LM seed vocabulary (the step before
piece pruning in SentencePiece-style tokenizer training),
scale-shaped curriculum ordering via the two-phase distributed rank,
and Holt double-exponential smoothing as a fold.

Scale design notes (per operator, details in each docstring):

* the recursive CTE's frontier shrinks by 10x per step — iteration
  depth is O(log max-key) regardless of row count, and each step is
  an ordinary shuffle-free projection plus the UNION ALL append.
* curriculum ordering refuses the global-window rank: the leading
  sort key is bucket-aggregated (bounded cardinality), offsets come
  from a window over the BUCKET relation, and the within-bucket rank
  is partitioned — the corpus_shard_by_tokens prefix-sum shape
  applied to ranking.
* the idempotent sink keys every micro-batch write to a
  batch-scoped directory with a commit marker; redelivering the
  ENTIRE stream (fresh checkpoint, same sink) changes nothing, which
  the exact oracle then certifies.
* Holt smoothing folds per-group once over a day-indexed series —
  state is two doubles per group; the series length is bounded by
  calendar days, never by corpus rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.operators.curation_r11 import _term_stats
# importing curation_r12 registers the framehash/fingerprint oracles
# this module's composite oracles wrap (decorators run at import, so
# the dependency must be import-order explicit — the registry.oracle
# contract).
from clj_kinesis_to_firehose_spark.operators.curation_r12 import (
    AFP_WINDOWS,
    SQL_AFP_ENERGY_CTES,
    multimodal_video_framehash,
)
from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import (
    fan_out,
    load_table,
    scratch_dir,
)
from clj_kinesis_to_firehose_spark.streaming.pipelines import run_bounded

# --- sql_recursive_hierarchy --------------------------------------------------

#: the recursive hierarchy walk, written once in each dialect's
#: integer-division spelling ({div}) — the decimal-shift parent rule
#: (parent(k) = k div 10) gives every customer a deterministic
#: position in a forest rooted at keys 1..9, with depth = digits - 1.
_RECURSIVE_HIERARCHY_SQL = """
    WITH RECURSIVE walk AS (
      SELECT c_custkey AS node, c_custkey AS cursor, 0 AS depth
      FROM customer
      UNION ALL
      SELECT node, cursor {div} 10, depth + 1 FROM walk WHERE cursor >= 10
    )
    SELECT w.cursor AS root_key,
           COUNT(*) AS n_nodes,
           MAX(w.depth) AS max_depth,
           ROUND(SUM(c.c_acctbal), 2) AS sum_acctbal
    FROM walk w JOIN customer c ON c.c_custkey = w.node
    WHERE w.cursor < 10
    GROUP BY w.cursor
    """


@register(
    "sql_recursive_hierarchy",
    oracle=_RECURSIVE_HIERARCHY_SQL.format(div="//"),
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE — the SQL front door's hierarchy walk (Spark
    4.x): every customer is placed in a deterministic forest by the
    decimal-shift parent rule parent(k) = k div 10, the walk climbs to
    the root (first digit), and the result rolls up per root: node
    count, max depth, balance total. The same recursion answers
    org-chart rollups, BOM explosions, and thread-ancestry queries —
    shapes a non-recursive plan cannot express for unbounded depth.

    The query text is ONE template rendered per dialect (`DIV` vs
    `//` integer division) — semantics identical, proven by the exact
    oracle.

    Scale: the recursive frontier SHRINKS by 10x per iteration
    (cursor div 10), so depth is O(log10 max-key) — ~12 iterations at
    a trillion keys — and each iteration is a shuffle-free projection
    of the previous frontier; the final rollup is one hash aggregate
    on <= 9 roots. The join back to customer broadcasts nothing and
    shuffles on the key both sides already carry.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_RECURSIVE_HIERARCHY_SQL.format(div="DIV"))


# --- sql_pipe_syntax_orders ---------------------------------------------------


@register(
    "sql_pipe_syntax_orders",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_custkey
    HAVING COUNT(*) >= 2
    """,
)
def sql_pipe_syntax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.x `|>` operators): the filter →
    aggregate → post-aggregate-filter chain written top-to-bottom in
    evaluation order, the front door for users coming from modern
    pipeline SQL tools. The oracle states the identical relation in
    ANSI form (WHERE / GROUP BY / HAVING), proving the pipe chain is
    pure syntax — same Catalyst plan, same rows.

    Scale: one orders scan with the status predicate pushed down, one
    hash aggregate on o_custkey with map-side partials, and the
    HAVING filter applied post-merge — no extra shuffle versus the
    ANSI spelling.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
      FROM orders
      |> WHERE o_orderstatus = 'O'
      |> AGGREGATE COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
         GROUP BY o_custkey
      |> WHERE n_orders >= 2
      |> SELECT o_custkey, n_orders, revenue
    """)


# --- dq_l_diversity -----------------------------------------------------------

#: minimum distinct sensitive values per quasi-identifier group; a
#: group below this re-identifies its members' sensitive attribute by
#: intersection even when it passes the k-anonymity SIZE gate.
L_DIVERSITY_THRESHOLD = 5


@register(
    "dq_l_diversity",
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_sensitive
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN n_sensitive < {L_DIVERSITY_THRESHOLD}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low_diversity,
           CAST(SUM(CASE WHEN n_sensitive < {L_DIVERSITY_THRESHOLD}
                         THEN n_rows ELSE 0 END) AS BIGINT) AS rows_at_risk,
           CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity
    FROM g GROUP BY 1
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ℓ-diversity risk profile — dq_k_anonymity's other half: a
    quasi-identifier group can be large enough to pass the k gate yet
    still leak if (nearly) all its members share one sensitive value.
    Per (event_type, day) group this counts DISTINCT sensitive values
    (user_id as the sensitive attribute) and reports, per event type,
    the groups below ℓ={L_DIVERSITY_THRESHOLD} and the rows inside
    them — the pair of gates (size AND diversity) a release review
    actually runs.

    Scale: the distinct count shuffles on the (group, sensitive)
    pair once, then two chained aggregations with map-side partials —
    quasi-identifier cardinality drives cost, not row count. Nothing
    collects.
    """
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_sensitive"),
    )
    risky = F.col("n_sensitive") < L_DIVERSITY_THRESHOLD
    return g.groupBy("event_type").agg(
        F.count("*").alias("n_groups"),
        F.sum(risky.cast("int")).cast("long").alias("n_low_diversity"),
        F.sum(F.when(risky, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("n_sensitive").cast("long").alias("min_diversity"),
    )


# --- stream_dedup_within_watermark --------------------------------------------


@register(
    "stream_dedup_within_watermark", executes_on_build=True,
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dropDuplicatesWithinWatermark — streaming dedup whose state is
    EVICTED by the event-time watermark. Plain dropDuplicates (I5 /
    stream_dedup) keeps every key ever seen — state grows with the
    stream and a year-long Kinesis consumer eventually spills or
    dies; the within-watermark variant holds a key only until the
    watermark passes it, bounding state to keys inside the delay
    window, which is exactly the at-least-once redelivery horizon a
    Kinesis source actually has. The replay injects 200 duplicate
    event_ids near the stream head (inside the 1-hour delay — the
    redelivery shape); dedup removes them, so per-type unique counts
    equal the batch DISTINCT — exact oracle.

    Scale: state = keys within one watermark delay of the front,
    independent of total stream length — the property that lets this
    run forever. One shuffle on event_id for dedup state, one on
    event_type for the rollup.
    """
    from clj_kinesis_to_firehose_spark.sources.streams import (
        read_event_stream,
        write_replay_slices,
    )
    from clj_kinesis_to_firehose_spark.streaming.pipelines import (
        _run_to_memory,
    )

    replay = write_replay_slices(spark, sf_dir, n_slices=4, dup_event_ids=200)
    ev = read_event_stream(spark, replay)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return _run_to_memory(out, "complete")


# --- stream_idempotent_sink ---------------------------------------------------


@register(
    "stream_idempotent_sink", executes_on_build=True,
    oracle="""
    SELECT event_type, COUNT(*) AS n_records, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once batch sink by construction: each micro-batch
    writes to a BATCH-SCOPED directory (overwrite) and then drops a
    commit marker; a redelivered batch whose marker exists is skipped
    outright, and a batch that failed mid-write is overwritten
    cleanly on retry — the transactional-foreachBatch pattern every
    at-least-once source (Kinesis included) needs to reach
    exactly-once file output. Proven the hard way: after the first
    run drains, the ENTIRE stream is replayed against the same sink
    from a FRESH checkpoint (every batch redelivered), and the final
    relation still equals the batch aggregate — exact oracle.
    Batch→slice assignment is deterministic (mtime-ordered file
    source, maxFilesPerTrigger=1), so redelivered batch ids carry
    identical content; the commit log's skip is therefore sound.

    Scale: the marker check and directory write are O(1) driver-side
    metadata per micro-batch; data moves once, executor-parallel, and
    the sink directory layout (one subdir per batch) is what a
    downstream compaction job expects.
    """
    from clj_kinesis_to_firehose_spark.sources.streams import (
        read_event_stream,
        write_replay_slices,
    )

    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    sink_root = scratch_dir("kf_idem_sink_")
    commits = os.path.join(sink_root, "_commits")
    data_root = os.path.join(sink_root, "data")
    os.makedirs(commits, exist_ok=True)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(commits, f"{batch_id}.done")
        if os.path.exists(marker):
            return  # redelivery of a committed batch: no-op
        batch_df.write.mode("overwrite").parquet(
            os.path.join(data_root, f"batch={batch_id}")
        )
        with open(marker, "w") as fh:
            fh.write("committed")

    def run_once() -> None:
        run_bounded(
            read_event_stream(spark, replay).writeStream.foreachBatch(commit_batch)
        )

    run_once()
    run_once()  # full redelivery: fresh checkpoint, same sink — no-op
    return (
        spark.read.parquet(os.path.join(data_root, "batch=*"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_records"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --- vocab_seed_substrings ----------------------------------------------------

#: unigram-LM seed construction knobs: candidate pieces are all
#: substrings of length 2..SEED_MAX_PIECE_LEN drawn from the
#: SEED_WORD_POOL most frequent words, scored by the frequency mass
#: of the words containing them.
SEED_WORD_POOL = 200
SEED_MAX_PIECE_LEN = 4
SEED_VOCAB_TOPK = 50


@register(
    "vocab_seed_substrings",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
      FROM documents
    ), stats AS (
      SELECT term, COUNT(*) AS tf FROM toks GROUP BY term
    ), pool AS (
      SELECT term, tf FROM stats ORDER BY tf DESC, term
      LIMIT {SEED_WORD_POOL}
    ), lens AS (
      SELECT term, tf, UNNEST(range(2, {SEED_MAX_PIECE_LEN} + 1)) AS plen
      FROM pool
    ), pieces AS (
      SELECT SUBSTRING(term, CAST(pos AS INT), CAST(plen AS INT)) AS piece,
             tf, term
      FROM (SELECT term, tf, plen,
                   UNNEST(range(1, LENGTH(term) - plen + 2)) AS pos
            FROM lens WHERE LENGTH(term) >= plen)
    ), scored AS (
      SELECT piece, CAST(SUM(tf) AS BIGINT) AS weight,
             COUNT(DISTINCT term) AS n_words
      FROM pieces GROUP BY piece
    )
    SELECT piece, weight, n_words,
           ROW_NUMBER() OVER (ORDER BY weight DESC, piece) AS seed_rank
    FROM scored ORDER BY weight DESC, piece LIMIT {SEED_VOCAB_TOPK}
    """,
)
def vocab_seed_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM seed vocabulary — the step BEFORE piece pruning in
    SentencePiece-style tokenizer training: enumerate every substring
    of length 2..{SEED_MAX_PIECE_LEN} from the {SEED_WORD_POOL} most
    frequent words, score each candidate piece by the frequency mass
    of the words containing it (a word contributes its tf once per
    occurrence position — the substring-count seed), and keep the
    top-{SEED_VOCAB_TOPK}. The EM pruning loop then starts from this
    relation; its bpe_* siblings cover the merge-based family.

    Scale: the corpus is touched ONCE (the shared term-stats
    aggregate, Zipf-bounded output); everything after operates on the
    {SEED_WORD_POOL}-row pool — substring explosion is
    pool x lengths x positions, a few thousand rows regardless of
    corpus size, exactly the dictionary-sized (never corpus-sized)
    discipline bpe_tokenize_apply established.
    """
    stats = _term_stats(spark, sf_dir).select("term", "tf")
    pool = stats.orderBy(F.desc("tf"), F.asc("term")).limit(SEED_WORD_POOL)
    lens = pool.select(
        "term",
        "tf",
        F.explode(
            F.sequence(F.lit(2), F.lit(SEED_MAX_PIECE_LEN))
        ).alias("plen"),
    ).filter(F.length("term") >= F.col("plen"))
    pieces = lens.select(
        "term",
        "tf",
        "plen",
        F.explode(
            F.sequence(F.lit(1), F.length("term") - F.col("plen") + 1)
        ).alias("pos"),
    ).select(
        F.expr("substring(term, pos, plen)").alias("piece"), "tf", "term"
    )
    scored = pieces.groupBy("piece").agg(
        F.sum("tf").alias("weight"),
        F.countDistinct("term").alias("n_words"),
    )
    top = scored.orderBy(F.desc("weight"), F.asc("piece")).limit(
        SEED_VOCAB_TOPK
    )
    w = Window.orderBy(F.desc("weight"), F.asc("piece"))
    return top.select(
        "piece", "weight", "n_words", F.row_number().over(w).alias("seed_rank")
    )


# --- corpus_curriculum_order --------------------------------------------------

#: curriculum knobs: quality ratio in integer 1e-4 units (the exact
#: cross-engine comparator, per the attribution_linear fix), stage
#: count for the schedule, and shard fan-out within the order.
CURRICULUM_STAGES = 4
CURRICULUM_SHARDS = 8
#: doc_id range per phase-1 rank bucket (see the two-phase rank note).
CURRICULUM_BUCKET = 64


@register(
    "corpus_curriculum_order",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
      FROM documents
    ), d AS (
      SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT term) AS n_distinct
      FROM toks GROUP BY doc_id
    ), scored AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR(n_distinct * 10000 / n_tokens) AS BIGINT) AS ratio_u4
      FROM d
    ), ranked AS (
      SELECT doc_id, n_tokens, ratio_u4,
             ROW_NUMBER() OVER (ORDER BY ratio_u4 DESC, n_tokens, doc_id)
               AS position,
             COUNT(*) OVER () AS n_total
      FROM scored
    )
    SELECT doc_id, ratio_u4, n_tokens, position,
           CAST(FLOOR((position - 1) * {CURRICULUM_STAGES} * 1.0 / n_total)
                AS BIGINT) + 1 AS stage,
           (position - 1) % {CURRICULUM_SHARDS} AS shard
    FROM ranked
    """,
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: documents scheduled
    highest-quality-first (distinct-token ratio in exact integer 1e-4
    units — the cross-engine comparator discipline), shortest-first
    within a quality level, each doc given its global curriculum
    position, stage (1..{CURRICULUM_STAGES}, floor law over position)
    and round-robin shard within the order.

    Scale: a global ROW_NUMBER is a single-partition sort — the
    canonical 100 TB anti-pattern — so the position is computed as a
    TWO-PHASE DISTRIBUTED RANK instead (the corpus_shard_by_tokens
    prefix-sum shape applied to ranking): (1) per-doc sort keys
    map-side; (2) docs bucket by the leading key's value range and a
    tiny bucket relation aggregates per-bucket counts; (3) one window
    over the BUCKET relation (not the corpus) yields each bucket's
    exclusive global offset; (4) offsets broadcast back and the
    within-bucket rank runs partitioned. Offset + within-bucket rank
    = the exact global position, because bucketing is by SORT-KEY
    value, never physical partition. The oracle computes the same
    integers with a plain global window, proving the decomposition.
    The total count folds in as a broadcast 1-row aggregate, not a
    driver count().
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = fan_out(spark, docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    d = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("term").alias("n_distinct"),
    )
    scored = d.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("n_distinct") * 10000 / F.col("n_tokens"))
        .cast("long")
        .alias("ratio_u4"),
        # lazy pin (r15, guide §2.4/§5): the rank input, the bucket
        # counts, and the 1-row total each re-derived the whole
        # tokenize→per-doc-agg pipeline (3 corpus scans). The pinned
        # relation is three long columns per document — the narrow
        # numeric sort-key table, never the text.
    ).localCheckpoint(eager=False)
    # two-phase rank over (ratio_u4 DESC, n_tokens, doc_id): bucket by
    # the leading key's value range (NOT physical partitions) so the
    # bucket relation is bounded by key range / CURRICULUM_BUCKET.
    keyed = scored.withColumn(
        "rbucket", F.floor(F.col("ratio_u4") / CURRICULUM_BUCKET)
    )
    bucket_counts = keyed.groupBy("rbucket").agg(
        F.count("*").alias("bucket_n")
    )
    bucket_win = Window.orderBy(F.desc("rbucket"))
    offsets = bucket_counts.select(
        "rbucket",
        (F.sum("bucket_n").over(bucket_win) - F.col("bucket_n")).alias(
            "bucket_offset"
        ),
    )
    in_bucket = Window.partitionBy("rbucket").orderBy(
        F.desc("ratio_u4"), F.asc("n_tokens"), F.asc("doc_id")
    )
    total = scored.agg(F.count("*").alias("n_total"))
    positioned = (
        keyed.join(F.broadcast(offsets), "rbucket")
        .select(
            "doc_id",
            "ratio_u4",
            "n_tokens",
            (F.col("bucket_offset") + F.row_number().over(in_bucket)).alias(
                "position"
            ),
        )
        .crossJoin(F.broadcast(total))
    )
    return positioned.select(
        "doc_id",
        "ratio_u4",
        "n_tokens",
        "position",
        (
            F.floor(
                (F.col("position") - 1)
                * CURRICULUM_STAGES
                * F.lit(1.0)
                / F.col("n_total")
            ).cast("long")
            + 1
        ).alias("stage"),
        ((F.col("position") - 1) % CURRICULUM_SHARDS).alias("shard"),
    )


# --- ts_holt_linear -----------------------------------------------------------


@register(
    "ts_holt_linear",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ), rec AS (
      SELECT event_type, rn, n, x AS l, CAST(0.0 AS DOUBLE) AS b
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, s.n,
             0.5 * s.x + 0.5 * (rec.l + rec.b),
             0.5 * ((0.5 * s.x + 0.5 * (rec.l + rec.b)) - rec.l)
               + 0.5 * rec.b
      FROM rec JOIN s ON s.event_type = rec.event_type
                     AND s.rn = rec.rn + 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days, l AS level, b AS trend,
           l + b AS forecast_next
    FROM rec WHERE rn = n
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α=β=1/2)
    over the daily event-count series per event type, emitting the
    final smoothed level, trend, and one-step forecast — the
    classical trending-series baseline a metrics pipeline fits before
    alerting on drift (EWMA alone lags a trending series; Holt's
    trend term removes that lag).

    Cross-engine exactness: the series is INTEGER daily counts (a
    float daily SUM would differ across engines by partial-agg
    order), α=β=1/2 keeps every update a dyadic-rational fold, and
    both engines evaluate the literally-identical expression sequence
    (l' = 0.5x + 0.5(l+b); b' = 0.5(l'-l) + 0.5b) — IEEE doubles are
    deterministic given the same op order, so the raw doubles
    hash-match with no rounding at all. The oracle runs the same
    recurrence as a recursive CTE.

    Scale: the recurrence is inherently sequential per group, so it
    folds a day-indexed array per event type — state is two doubles,
    the array is bounded by CALENDAR DAYS (thousands for any real
    stream), never by row count; the corpus-sized work is the daily
    pre-aggregation, one shuffle with map-side partials. Groups fold
    in parallel.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("xs")
    )
    acc0 = F.struct(
        F.lit(0).alias("i"),
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
    )

    def step(acc, e):
        x = e["x"]
        l_new = F.when(acc["i"] == 0, x).otherwise(
            F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        )
        b_new = F.when(acc["i"] == 0, F.lit(0.0)).otherwise(
            F.lit(0.5) * (l_new - acc["l"]) + F.lit(0.5) * acc["b"]
        )
        return F.struct(
            (acc["i"] + 1).alias("i"), l_new.alias("l"), b_new.alias("b")
        )

    return series.select(
        "event_type", F.aggregate("xs", acc0, step).alias("hb")
    ).select(
        "event_type",
        F.col("hb.i").cast("long").alias("n_days"),
        F.col("hb.l").alias("level"),
        F.col("hb.b").alias("trend"),
        (F.col("hb.l") + F.col("hb.b")).alias("forecast_next"),
    )


# --- tokenize_greedy_pieces ---------------------------------------------------


def _sql_tokenize_greedy() -> str:
    from clj_kinesis_to_firehose_spark.registry import oracle

    return f"""
    WITH RECURSIVE seedv AS ({oracle("vocab_seed_substrings")}),
    pieces AS (SELECT piece FROM seedv),
    wtoks AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ), words AS (
      SELECT term, COUNT(*) AS tf FROM wtoks GROUP BY term
    ), grid AS (
      SELECT w.term, CAST(gp.pos AS INT) AS pos
      FROM words w, UNNEST(range(1, LENGTH(w.term) + 1)) AS gp(pos)
    ), matches AS (
      SELECT g.term, g.pos, MAX(LENGTH(p.piece)) AS mlen
      FROM grid g JOIN pieces p
        ON SUBSTRING(g.term, g.pos, LENGTH(p.piece)) = p.piece
      GROUP BY 1, 2
    ), jumps AS (
      SELECT g.term, g.pos, COALESCE(m.mlen, 1) AS jump,
             CASE WHEN m.mlen IS NULL THEN 1 ELSE 0 END AS fb
      FROM grid g LEFT JOIN matches m
        ON g.term = m.term AND g.pos = m.pos
    ), seg AS (
      SELECT term, 1 AS pos, 0 AS n_pieces, 0 AS n_fallback FROM words
      UNION ALL
      SELECT s.term, s.pos + j.jump, s.n_pieces + 1, s.n_fallback + j.fb
      FROM seg s JOIN jumps j ON j.term = s.term AND j.pos = s.pos
      WHERE s.pos <= LENGTH(s.term)
    )
    SELECT s.term, w.tf, CAST(s.n_pieces AS BIGINT) AS n_pieces,
           CAST(s.n_fallback AS BIGINT) AS n_fallback
    FROM seg s JOIN words w USING (term)
    WHERE s.pos = LENGTH(s.term) + 1
    """


@register("tokenize_greedy_pieces", oracle=_sql_tokenize_greedy())
def tokenize_greedy_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match piece tokenization (the WordPiece
    inference rule) over the whole word dictionary, against the
    unigram seed vocabulary: at each position consume the LONGEST
    vocabulary piece that matches (single characters are the
    fallback), emitting per word its piece count and fallback count —
    the relation that tells you what compression and OOV-shred a
    candidate vocabulary actually buys before you commit to training
    with it.

    The sequential walk itself runs as a Spark 4.x RECURSIVE CTE over
    a precomputed jump table — the recursion is the real consumer the
    sql_recursive_hierarchy feature demo promised: per step, every
    word's cursor advances by its position's greedy jump; a word
    leaves the frontier when its cursor passes its length, so the
    iteration count is the max word length, each iteration a hash
    join of the shrinking frontier against the jump table.

    Scale: everything is dictionary-sized — the corpus contributes
    one term-stats aggregate; the jump table is |dictionary| x word
    length rows built by ONE broadcast join against the
    {SEED_VOCAB_TOPK}-piece vocab (candidate substrings explode
    map-side); the recursion shuffles only frontier rows, monotone
    shrinking. No plan step is corpus-sized after the first
    aggregate, the bpe_tokenize_apply discipline.
    """
    # recursion iterations = max word length. The session default
    # (cteRecursionLevelLimit=100) is plenty for natural-language
    # words, but a pathological unsegmented-CJK/URL dictionary would
    # trip it, so the op raises the ceiling explicitly — the knob a
    # production deployment sizes to its observed max word length
    # (and cteRecursionRowLimit to its dictionary size).
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "1000")
    pieces = vocab_seed_substrings(spark, sf_dir).select("piece")
    # words is pinned FIRST so the jumps pin below builds its grid
    # from the pinned dictionary — the corpus term aggregate runs once
    # per execution, not once per pinned consumer (see the r16 pin
    # comment below for the bounded-pin rationale).
    words = _term_stats(spark, sf_dir).select("term", "tf").localCheckpoint(
        eager=False
    )
    grid = words.select(
        "term",
        F.explode(
            F.sequence(F.lit(1), F.length("term"))
        ).alias("pos"),
    )
    cand = grid.select(
        "term",
        "pos",
        F.explode(
            F.sequence(F.lit(2), F.lit(SEED_MAX_PIECE_LEN))
        ).alias("plen"),
    ).select(
        "term", "pos", F.expr("substring(term, pos, plen)").alias("cand")
    )
    matches = (
        cand.join(F.broadcast(pieces), cand.cand == pieces.piece)
        .groupBy("term", "pos")
        .agg(F.max(F.length("piece")).alias("mlen"))
    )
    jumps = grid.join(matches, ["term", "pos"], "left").select(
        "term",
        "pos",
        F.coalesce(F.col("mlen"), F.lit(1)).alias("jump"),
        F.when(F.col("mlen").isNull(), 1).otherwise(0).alias("fb"),
    )
    # r16 (guide §2.4/§5 bounded pin): a temp view is a logical plan,
    # so the recursion re-evaluated the WHOLE jump-table subtree —
    # three corpus scans deep — once per loop iteration (max word
    # length ≈ 20-30 iterations; the before-plan's UnionLoop body
    # carries the corpus LogicalRelations). Both pinned relations are
    # dictionary-bounded (|terms| and Σ|term| rows, never corpus-sized
    # text), the same Zipf-bounded class as the tfidf/BPE pins; one
    # materialization pass at first execution, paid per run.
    # Executor-loss caveat as curation_r15.py documents for this class.
    jumps = jumps.localCheckpoint(eager=False)
    jumps.createOrReplaceTempView("tok_jumps")
    words.createOrReplaceTempView("tok_words")
    return spark.sql("""
      WITH RECURSIVE seg AS (
        SELECT term, 1 AS pos, 0 AS n_pieces, 0 AS n_fallback
        FROM tok_words
        UNION ALL
        SELECT s.term, s.pos + j.jump, s.n_pieces + 1, s.n_fallback + j.fb
        FROM seg s JOIN tok_jumps j ON j.term = s.term AND j.pos = s.pos
        WHERE s.pos <= LENGTH(s.term)
      )
      SELECT s.term, w.tf, CAST(s.n_pieces AS BIGINT) AS n_pieces,
             CAST(s.n_fallback AS BIGINT) AS n_fallback
      FROM seg s JOIN tok_words w USING (term)
      WHERE s.pos = LENGTH(s.term) + 1
    """)


# --- multimodal_video_scene_cuts ------------------------------------------------

#: consecutive-frame hamming distance above this is a scene cut; at or
#: below it is in-scene motion/noise (the sf0.01 step distribution:
#: median 0, p75 18, max 48 — 16 splits motion from cuts).
VSC_THRESHOLD = 16


def _sql_video_scene_cuts() -> str:
    from clj_kinesis_to_firehose_spark.registry import oracle

    return f"""
    WITH fh AS ({oracle("multimodal_video_framehash")}),
    steps AS (
      SELECT doc_id,
             bit_count(xor(fhash, LAG(fhash) OVER (
               PARTITION BY doc_id ORDER BY frame_idx))) AS step
      FROM fh
    )
    SELECT doc_id,
           COUNT(*) AS n_frames,
           CAST(SUM(CASE WHEN step > {VSC_THRESHOLD} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cuts,
           CAST(MAX(step) AS BIGINT) AS max_step
    FROM steps GROUP BY doc_id
    """


@register("multimodal_video_scene_cuts", oracle=_sql_video_scene_cuts())
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection from the per-frame perceptual hashes: a cut
    is a consecutive-frame hamming step above {VSC_THRESHOLD} bits
    (in-scene motion perturbs a few grid cells; a cut rewrites the
    frame). Emits per clip the frame count, cut count, and the largest
    step — the relation video curation samples training frames FROM
    (one frame per scene beats every-Nth-frame sampling, which
    over-represents long static scenes).

    Scale: rides the framehash relation (two Arrow map stages, zero
    shuffles) and adds ONE window partitioned by clip — frames of a
    clip are already co-located after the map stages at any corpus
    size, and per-clip frame counts are codec-bounded, so the lag
    window never skews. XOR+popcount per frame pair, nothing
    collected.
    """
    fh = multimodal_video_framehash(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    steps = fh.select(
        "doc_id",
        F.bit_count(
            F.col("fhash").bitwiseXOR(F.lag("fhash").over(w))
        ).alias("step"),
    )
    cut = F.col("step") > VSC_THRESHOLD
    return steps.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.when(cut, 1).otherwise(0)).cast("long").alias("n_cuts"),
        F.max("step").cast("long").alias("max_step"),
    )


# --- multimodal_audio_dynamics --------------------------------------------------


def _sql_audio_dynamics() -> str:
    return f"""
    WITH {SQL_AFP_ENERGY_CTES}
    SELECT win.doc_id,
           CAST(MIN(win.e) AS BIGINT) AS min_e,
           CAST(MAX(win.e) AS BIGINT) AS max_e,
           CAST(SUM(CASE WHEN win.e * {AFP_WINDOWS} < tot.te
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_below_mean
    FROM win JOIN tot ON win.doc_id = tot.doc_id
    GROUP BY win.doc_id
    """


@register("multimodal_audio_dynamics", oracle=_sql_audio_dynamics())
def multimodal_audio_dynamics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio QA dynamics profile — the release gate the audio modality
    runs before training ingest: per clip, the min and max windowed
    energy and how many windows sit below the mean share (silence,
    dropouts, and clipped-flat segments all show up as extreme window
    energies; a healthy clip's windows cluster around the mean). All
    integer arithmetic (int64 energy sums, cross-multiplied mean
    compare) over the REAL WAV decode path, so the oracle recomputes
    the profile analytically from the shared energy CTE
    (curation_r12.SQL_AFP_ENERGY_CTES — one statement of the sample
    law, zero drift) and any decoder regression moves the integers.

    Scale: the same two Arrow map stages as the fingerprint (encode,
    then per-clip window kernel), zero shuffles — per-clip state is 64
    int64 energies regardless of clip length.
    """
    import numpy as np
    import pandas as pd

    from clj_kinesis_to_firehose_spark.operators.audio_ops import (
        _encode_batches,
    )

    def dynamics_batches(batches):
        from clj_kinesis_to_firehose_spark.functions.audio import decode_wav

        w = AFP_WINDOWS
        for pdf in batches:
            ids, mins, maxs, below = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, _rate = decode_wav(bytes(payload))
                n = len(samples)
                s = samples.astype(np.int64)
                w_idx = (np.arange(n, dtype=np.int64) * w) // n
                e = np.zeros(w, dtype=np.int64)
                np.add.at(e, w_idx, s * s)
                te = int(e.sum())
                ids.append(int(doc_id))
                mins.append(int(e.min()))
                maxs.append(int(e.max()))
                below.append(int((e * w < te).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "min_e": pd.Series(mins, dtype="int64"),
                    "max_e": pd.Series(maxs, dtype="int64"),
                    "n_below_mean": pd.Series(below, dtype="int64"),
                }
            )

    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    from clj_kinesis_to_firehose_spark.operators.multimodal import (
        compose_batches,
    )

    return docs.select("doc_id").mapInPandas(
        compose_batches(_encode_batches, dynamics_batches),
        schema="doc_id long, min_e long, max_e long, n_below_mean long",
    )


# --- dq_t_closeness -----------------------------------------------------------

#: sensitive attribute cardinality (user_id bucketed to 5 classes — a
#: low-cardinality stand-in for diagnosis codes / salary bands) and
#: the t threshold: a group breaches when its sensitive distribution
#: is farther than t = 0.2 total-variation from the global one.
T_CLOSE_CLASSES = 5


def _sql_t_closeness() -> str:
    c = T_CLOSE_CLASSES
    return f"""
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             user_id % {c} AS sclass
      FROM events
    ), gcls AS (
      SELECT sclass, COUNT(*) AS cv FROM base GROUP BY sclass
    ), tot AS (
      SELECT COUNT(*) AS n FROM base
    ), grp AS (
      SELECT event_type, day, COUNT(*) AS ng FROM base GROUP BY 1, 2
    ), gv AS (
      SELECT event_type, day, sclass, COUNT(*) AS cgv
      FROM base GROUP BY 1, 2, 3
    ), full_grid AS (
      SELECT g.event_type, g.day, g.ng, gl.sclass, gl.cv,
             COALESCE(v.cgv, 0) AS cgv
      FROM grp g CROSS JOIN gcls gl
      LEFT JOIN gv v ON v.event_type = g.event_type AND v.day = g.day
                    AND v.sclass = gl.sclass
    )
    SELECT f.event_type, CAST(f.day AS VARCHAR) AS day,
           CAST(f.ng AS BIGINT) AS n_rows,
           CAST(SUM(ABS(f.cgv * t.n - f.cv * f.ng)) AS BIGINT) AS tv_num,
           CAST(CASE WHEN SUM(ABS(f.cgv * t.n - f.cv * f.ng)) * 5
                          > 2 * t.n * f.ng
                     THEN 1 ELSE 0 END AS INT) AS breaches_t
    FROM full_grid f CROSS JOIN tot t
    GROUP BY f.event_type, f.day, f.ng, t.n
    """


@register("dq_t_closeness", oracle=_sql_t_closeness())
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness — the third anonymity gate, completing the
    k-anonymity (group size) / ℓ-diversity (distinct sensitive
    values) triad: a group can pass both and still leak when its
    sensitive-value DISTRIBUTION skews far from the table's global
    distribution (an attacker learns the skew itself). Per
    (event_type, day) group this computes the total-variation
    distance between the group's sensitive-class distribution
    (user_id bucketed to {T_CLOSE_CLASSES} classes) and the global
    one — kept EXACT by cross-multiplied integers: tv_num =
    Σ_v |c_gv·N − C_v·n_g| is the TV distance scaled by 2·N·n_g, and
    the t = 0.2 breach test is the integer compare
    tv_num·5 > 2·N·n_g. No float division anywhere.

    Scale: two aggregations over the base scan (group×class and
    global class counts — the class set is {T_CLOSE_CLASSES} rows,
    broadcast onto the group relation for the zero-fill grid), then
    arithmetic on group-cardinality rows. Cost follows group count,
    not row count.
    """
    c = T_CLOSE_CLASSES
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        (F.col("user_id") % c).alias("sclass"),
    )
    # ONE corpus pass (r15, guide §2.4): glob/tot/grp are all exact
    # integer rollups of the (group × class) cube, so derive them from
    # the pinned gv instead of re-scanning the base relation per
    # aggregate (the plan carried FOUR event scans). gv is
    # group-cardinality × {c} rows — the op's own "cost follows group
    # count" contract.
    gv = base.groupBy("event_type", "day", "sclass").agg(
        F.count("*").alias("cgv")
    ).localCheckpoint(eager=False)
    glob = gv.groupBy("sclass").agg(F.sum("cgv").cast("long").alias("cv"))
    tot = gv.agg(F.sum("cgv").cast("long").alias("n"))
    grp = gv.groupBy("event_type", "day").agg(
        F.sum("cgv").cast("long").alias("ng")
    )
    grid = (
        grp.crossJoin(F.broadcast(glob))
        .join(gv, ["event_type", "day", "sclass"], "left")
        .withColumn("cgv", F.coalesce(F.col("cgv"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    term = F.abs(F.col("cgv") * F.col("n") - F.col("cv") * F.col("ng"))
    agged = grid.groupBy("event_type", "day", "ng", "n").agg(
        F.sum(term).cast("long").alias("tv_num")
    )
    return agged.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("ng").cast("long").alias("n_rows"),
        "tv_num",
        F.when(F.col("tv_num") * 5 > 2 * F.col("n") * F.col("ng"), 1)
        .otherwise(0)
        .cast("int")
        .alias("breaches_t"),
    )


# --- corpus_fim_spans ---------------------------------------------------------

#: middle-span share of the document (PSM fill-in-the-middle: the
#: middle quarter is masked and moved; prefix/suffix stay in place).
FIM_MIDDLE_DIV = 4
#: deterministic start-position multiplier (doc_id * FIM_MULT mod the
#: legal start range) — a schedule, not cryptography; production
#: would use xxhash64(doc_id, seed) with the same mod law.
FIM_MULT = 37


@register(
    "corpus_fim_spans",
    oracle=f"""
    SELECT doc_id, n_chars,
           CAST((doc_id * {FIM_MULT})
                % (n_chars - n_chars // {FIM_MIDDLE_DIV} + 1)
                AS BIGINT) AS prefix_len,
           CAST(n_chars // {FIM_MIDDLE_DIV} AS BIGINT) AS middle_len,
           CAST(n_chars - (doc_id * {FIM_MULT})
                % (n_chars - n_chars // {FIM_MIDDLE_DIV} + 1)
                - n_chars // {FIM_MIDDLE_DIV} AS BIGINT) AS suffix_len,
           SUBSTRING(text,
                     CAST(1 + (doc_id * {FIM_MULT})
                          % (n_chars - n_chars // {FIM_MIDDLE_DIV} + 1)
                          AS INT),
                     8) AS middle_head
    FROM documents
    """,
)
def corpus_fim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle span assignment — the deterministic
    prefix/middle/suffix split FIM pretraining rewrites each document
    with (PSM order): the middle quarter starts at a
    doc_id-seeded position inside the legal range, prefix and suffix
    are the remainder, and the first 8 chars of the middle are
    emitted so the oracle checks REAL text plumbing, not just span
    arithmetic. Downstream, the pack-sequences op consumes these
    spans; the split must be a pure function of (doc_id, n_chars) so
    re-runs and replays mask the same spans.

    Scale: a stateless projection — no shuffle, no state, perfectly
    map-parallel at any corpus size. All span math is integer (div
    and mod), bit-identical on both engines.
    """
    d = F.col("doc_id")
    n = F.col("n_chars")
    mid = (n / FIM_MIDDLE_DIV).cast("long")
    span = n - mid + 1
    start0 = (d * FIM_MULT) % span  # 0-based prefix length
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        start0.cast("long").alias("prefix_len"),
        mid.cast("long").alias("middle_len"),
        (n - start0 - mid).cast("long").alias("suffix_len"),
        F.expr(
            f"substring(text, cast(1 + (doc_id * {FIM_MULT})"
            f" % (n_chars - cast(n_chars / {FIM_MIDDLE_DIV} as bigint) + 1)"
            f" as int), 8)"
        ).alias("middle_head"),
    )


# --- corpus_epoch_schedule ----------------------------------------------------

#: total training-token budget as a multiple of the corpus (the
#: data-constrained regime: budget > corpus forces repetition).
EPOCH_BUDGET_MULT = 4


@register(
    "corpus_epoch_schedule",
    oracle=f"""
    WITH toks AS (
      SELECT source, COUNT(*) AS n_tokens
      FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS term
            FROM documents)
      GROUP BY source
    ), docs AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             COUNT(*) AS n_sources
      FROM toks
    )
    SELECT d.source, d.n_docs, CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST((tot.total_tokens * {EPOCH_BUDGET_MULT}) // tot.n_sources
                AS BIGINT) AS budget_tokens,
           CAST(((tot.total_tokens * {EPOCH_BUDGET_MULT}) // tot.n_sources)
                * 10000 // t.n_tokens AS BIGINT) AS repeat_u4
    FROM docs d JOIN toks t USING (source) CROSS JOIN tot
    """,
)
def corpus_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch / repetition schedule for data-constrained training: the
    token budget ({EPOCH_BUDGET_MULT}x the corpus) is split uniformly
    across sources, and each source's repeat factor (budget share
    over its own tokens, integer 1e-4 units) says how many times that
    source must repeat to fill its share — the *"how many epochs of
    each source"* table every data-constrained scaling decision reads
    (repeat_u4 > 10000 means the source repeats; beyond ~4x repeats
    returns diminish, which is exactly what this relation surfaces).

    Scale: one tokenize scan aggregated by source (map-side partials,
    source cardinality rows), a 1-row totals aggregate broadcast
    back, and integer arithmetic on the source relation. The floor
    division keeps both engines bit-identical — no float ratio.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    # ONE corpus pass (r15, guide §2.3/§2.4): token and doc counts per
    # source in a single aggregation — COUNT(*) of the exploded terms
    # is SUM(SIZE(split)) term for term for non-null text (split never
    # yields an empty array); a NULL text contributed 0 exploded rows,
    # while size(split(NULL)) is NULL (or -1 under legacy sizeOfNull),
    # so the coalesce-to-0 is what makes the fused form equivalent for
    # every input, not just the null-free fixtures (r15 ADVICE).
    # The separate per-source doc-count scan fuses into the same agg;
    # the totals then come from a window over the |sources|-row result
    # instead of a third corpus pass through a 1-row crossJoin.
    per_src = (
        fan_out(spark, docs)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.size(F.split("text", " ")), F.lit(0)))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    everything = Window.partitionBy()
    budget = F.floor(
        F.sum("n_tokens").over(everything)
        * EPOCH_BUDGET_MULT
        / F.count("*").over(everything)
    ).cast("long")
    out = per_src.withColumn("budget_tokens", budget)
    return out.select(
        "source",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "budget_tokens",
        F.floor(F.col("budget_tokens") * 10000 / F.col("n_tokens"))
        .cast("long")
        .alias("repeat_u4"),
    )
