"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2 J1-J2 plus the brief's SimHash, n-gram-Jaccard, and
embedding-cosine near-dup variants).

Scale design: every near-dup path is candidate-generation-first —
a bucketing key (LSH band, shared shingle, norm bucket) bounds the
pair space before any pairwise similarity is computed. Nothing here
materializes the O(n²) cross product at corpus scale; the exact-oracle
variants restrict doc ranges only so the DuckDB twin stays cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import fan_out, load_table, scratch_dir

# MinHash parameters: 16 permutations in 4 bands of 4 rows. With
# banding, P(candidate) = 1 - (1 - j^4)^4 — ~0.9 at jaccard 0.7,
# ~0.04 at jaccard 0.2: the standard LSH S-curve tradeoff.
MINHASH_PERMS = 16
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_PERMS // MINHASH_BANDS
SHINGLE_WIDTH = 3

# One portable 60-bit hash per shingle, then 16 universal-hash
# permutations h_i = (a_i·h + b_i) mod p — 16× less string-hash work
# in the dominant signature aggregation with the same per-permutation
# min-hash statistics. Bounds keep every intermediate ANSI-safe in
# int64: h < 2^32 (base hash folded by pmod), a_i < 2^30 ⇒
# a_i·h < 2^62; p is the smallest prime > 2^32 so permuted values
# keep the full 32-bit key space. Constants are fixed-seed so
# persisted signature indexes (dedup_incremental_minhash) stay
# comparable across runs.
MINHASH_P = 4_294_967_311  # smallest prime > 2^32
_rng = __import__("random").Random(0x5EED)
MINHASH_AB = [
    (_rng.randrange(1, 1 << 30) | 1, _rng.randrange(0, MINHASH_P))
    for _ in range(MINHASH_PERMS)
]
del _rng


def portable_hash60(col):
    """60-bit integer hash computable IDENTICALLY in Spark and DuckDB:
    the first 15 hex chars of md5, parsed base-16. Spark:
    ``conv(substr(md5(x),1,15),16,10)::long``; DuckDB twin:
    ``('0x' || substr(md5(x),1,15))::BIGINT``. 15 hex digits = 60 bits,
    so the value always fits a signed int64 in both engines. This is
    what upgrades the MinHash/SimHash family from weak (engine-specific
    xxhash64) to exact-oracle: the entire candidate-generation pipeline
    becomes bit-for-bit reproducible in SQL. md5 is ~2-3× slower per
    call than xxhash64 but both are JVM-codegen'd and each shingle is
    hashed exactly once, so the signature stage stays scan-dominated."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: DuckDB expression twin of :func:`portable_hash60` (format with the
#: column/expression to hash).
SQL_HASH60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def _sql_shingle_ctes(
    doc_filter: str = "", source: str = "documents", prefix: str = ""
) -> str:
    """Shared DuckDB CTE block reproducing the Spark MinHash pipeline
    exactly: w-shingles (with the short-doc degrade to one whole-text
    shingle), the portable 60-bit shingle hash folded to 32 bits, the
    16 linear-permutation signature minima, and the 4 band bucket keys
    (comma-joined row minima, matching Spark's ``concat_ws``).

    ``source``/``prefix`` let a caller run the pipeline over a derived
    doc relation (``prefix`` is emitted as leading CTEs, ``source``
    replaces the table name); the defaults produce byte-identical SQL
    to the original single-table form, so existing composed oracles
    are unchanged."""
    sp = "STRING_SPLIT(text, ' ')"
    gram = " || ' ' || ".join(f"{sp}[i+{k}]" for k in range(SHINGLE_WIDTH))
    mins = ",\n               ".join(
        f"MIN((h * {a} + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"mh{b * MINHASH_ROWS + r}::VARCHAR" for r in range(MINHASH_ROWS)
        )
        + " AS bucket FROM sigs"
        for b in range(MINHASH_BANDS)
    )
    return f"""
    WITH {prefix}grams AS (
        SELECT doc_id,
               CASE WHEN LEN({sp}) >= {SHINGLE_WIDTH}
                    THEN LIST_DISTINCT([{gram}
                         FOR i IN RANGE(1, LEN({sp}) - {SHINGLE_WIDTH - 2})])
                    ELSE [text] END AS gset
        FROM {source} {doc_filter}
    ), hashed AS (
        SELECT doc_id, {SQL_HASH60.format(x="shingle")} % 4294967296 AS h
        FROM (SELECT doc_id, UNNEST(gset) AS shingle FROM grams)
    ), sigs AS (
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    ), bands AS (
        {band_rows}
    )"""


#: Shared oracle tail: exact-jaccard verification of candidate pairs
#: against the distinct shingle sets, with the same round-then-filter
#: the Spark side applies.
_SQL_VERIFY_TAIL = """
    , verify AS (
        SELECT c.doc_a, c.doc_b,
               CAST(LEN(LIST_FILTER(ga.gset, g -> LIST_CONTAINS(gb.gset, g)))
                    AS DOUBLE) AS n_shared,
               LEN(ga.gset) AS n_a, LEN(gb.gset) AS n_b
        FROM cand c
        JOIN grams ga ON c.doc_a = ga.doc_id
        JOIN grams gb ON c.doc_b = gb.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(n_shared / (n_a + n_b - n_shared), 6) AS jaccard
    FROM verify
    WHERE ROUND(n_shared / (n_a + n_b - n_shared), 6) >= 0.5
"""

#: max members a (band, bucket) may have and still generate pairs.
#: An adversarial template flood — thousands of docs identical except
#: a serial/timestamp token, which exact dedup does NOT collapse —
#: concentrates one bucket and makes its pair output Θ(bucket²); AQE
#: skew-split spreads the JOIN's work but not the OUTPUT cardinality.
#: The guard bounds per-bucket pair cost at cap²/2 ≈ 500k and routes
#: oversized buckets to :func:`oversized_band_buckets` (the dead-letter
#: pattern: degrade diagnosably, never blow up the job). Organic
#: buckets sit far below it — fixture max is 4 (text minhash, sf0.1)
#: and 165 (image phash, sf0.1) — so every exact oracle, which does
#: not model the guard, is unaffected on non-adversarial corpora.
BAND_BUCKET_CAP = 1024

#: dedup_semantic_prune's within-cluster pair salt (guide §2.5): b
#: takes pmod(xxhash64(vec_id), k), a replicates over all k salts, so
#: a cluster's deg² pair expansion splits across k tasks — the
#: hot-cluster mitigation; every pair still forms exactly once (at
#: the b row's own salt). k is a replication factor, not a width —
#: the join's width is the session parallelism (pinned repartition).
SEMDEDUP_PAIR_SALT = 16


def sql_bucket_gate(src: str, cap: int = BAND_BUCKET_CAP) -> str:
    """DuckDB twin of the :func:`band_candidates` bucket-size gate:
    restrict a banded relation to rows whose (band, bucket) group is
    within the cap — QUALIFY over the same window the Spark side
    filters on, so the guard is part of every consumer's ORACLE
    contract, not a fixture-luck divergence (r13 review finding: a
    corpus whose organic buckets cross the cap must change the oracle
    the same way it changes the plan)."""
    return (
        f"SELECT * FROM {src} QUALIFY COUNT(*) "
        f"OVER (PARTITION BY band, bucket) <= {cap}"
    )



_MINHASH_ORACLE = _sql_shingle_ctes() + f"""
    , bands_ok AS ({{0}})
    , cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_ok a
        JOIN bands_ok b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id
    )""".format(sql_bucket_gate("bands")) + _SQL_VERIFY_TAIL

_INCREMENTAL_MINHASH_ORACLE = _sql_shingle_ctes() + f"""
    , bands_ok AS ({sql_bucket_gate("bands")})
    , split AS (
        SELECT doc_id,
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT) % 100
                 AS bkt
        FROM documents
    )
    , dbands AS (
        SELECT b.* FROM bands_ok b JOIN split s ON b.doc_id = s.doc_id
        WHERE s.bkt >= 80
    )
    , cand AS (
        SELECT DISTINCT LEAST(d.doc_id, x.doc_id) AS doc_a,
                        GREATEST(d.doc_id, x.doc_id) AS doc_b
        FROM dbands d
        JOIN bands_ok x ON d.band = x.band AND d.bucket = x.bucket
                        AND d.doc_id != x.doc_id
    )""" + _SQL_VERIFY_TAIL


@register(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies,
           MD5(text) AS text_hash
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash-groupBy exact dedup with a deterministic winner (min doc_id)
    # — preferred over dropDuplicates, whose surviving row is
    # partition-order-dependent. Grouping by the text itself keeps the
    # shuffle key exact; the md5 in the output is just a compact id.
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
        F.md5("text").alias("text_hash"),
    ).drop("text")


def shingles(col, width: int = SHINGLE_WIDTH):
    """Token w-shingles (shared helper in ``functions``; re-exported
    here with this module's default width)."""
    from clj_kinesis_to_firehose_spark.functions import shingles as _shingles

    return _shingles(col, width)


@register("dedup_near_minhash", oracle=_MINHASH_ORACLE)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding, with
    an EXACT DuckDB oracle: the shingle hash is :func:`portable_hash60`
    (md5-derived, bit-identical in both engines), so the whole
    signature → band → candidate → jaccard-verify pipeline is
    reproduced verbatim in SQL. Pytest additionally verifies planted
    near-dups are recovered.

    Pipeline: explode shingles → hash each shingle ONCE → 16
    linear-permutation min aggregates per doc (the MinHash signature —
    one shuffle with map-side partials; see :data:`MINHASH_AB`) →
    4 band keys → self-join per band bucket → distinct candidate
    pairs → exact jaccard verify on the candidates only. The
    band-bucket join is the scale path: pair cost is per-bucket,
    never corpus². An earlier formulation computed the signature as
    16 array-transforms over a shingle-array column, which
    re-evaluated the shingling 16× per row after projection collapse —
    the explode/agg form is ~20× faster and is also the shape that
    scales; a later revision cut the remaining 16-strings-hashes-
    per-shingle to one.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    candidate_ids = band_candidates(_band_keys(_minhash_sigs(spark, docs)))
    # r15 optimization (guide §3.1 "broadcast the side you KNOW is
    # small", §8 "decide with small rows"): broadcast the CANDIDATE
    # side of both verify joins. Unhinted, Spark's size estimates made
    # it broadcast the whole documents table TWICE (collect every text
    # to the driver and ship to every executor — the corpus, not the
    # decision set). The candidate set is the bucket-gated pair list
    # (cap-bounded per bucket, ≪ corpus), so it is the side §8's
    # pattern says must travel; the text-bearing corpus side now
    # streams from its scan.
    candidates = (
        F.broadcast(candidate_ids)
        .join(docs, candidate_ids.doc_a == docs.doc_id)
        .select("doc_a", "doc_b", F.col("text").alias("text_a"))
    )
    candidates = (
        F.broadcast(candidates)
        .join(docs, F.col("doc_b") == docs.doc_id)
        .select("doc_a", "doc_b", "text_a", F.col("text").alias("text_b"))
    )
    return (
        candidates.withColumn(
            "jaccard", exact_jaccard(F.col("text_a"), F.col("text_b"))
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def band_candidates(
    banded: DataFrame, max_bucket: int | None = BAND_BUCKET_CAP
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any (band, bucket) — the
    LSH candidate generator. ONE definition, shared by the batch
    dedup, the calibration, the hybrid-confirm, and the multimodal
    hamming operators so the join rule cannot drift between family
    members (the same single-copy rule the oracles' CTE blocks
    follow).

    Buckets larger than ``max_bucket`` are excluded from pair
    generation (see :data:`BAND_BUCKET_CAP`); pass ``None`` to
    disable. The size gate is a count over a window partitioned by the
    join key itself, so it costs one exchange on (band, bucket) — the
    partitioning the self-join needs anyway — and no extra join."""
    banded = gate_oversized(banded, max_bucket)
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        # r15 optimization (guide §2.4 "two operations keyed the same
        # way can share one exchange"): force the self-join to
        # SORT-MERGE so both sides require the SAME
        # hashpartitioning(band, bucket) exchange the gate's window
        # already established — Spark's ReuseExchange then runs the
        # entire upstream pipeline (shingle/decode → hash → signature →
        # band explode) ONCE and reads the shuffle twice. The previous
        # auto-chosen broadcast join put a BroadcastExchange on one
        # side, whose subtree cannot reuse the other side's shuffle,
        # so every consumer computed its full signature pipeline
        # TWICE (measured 2× the map work on dedup_near_minhash's
        # plan: two complete scan→explode→agg chains). SMJ is also
        # the 100 TB shape: AQE skew-split applies to it, and no
        # bucket relation need fit in broadcast memory.
        left.join(
            right.hint("merge"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def gate_oversized(
    banded: DataFrame, max_bucket: int | None = BAND_BUCKET_CAP
) -> DataFrame:
    """Restrict a banded relation to rows whose (band, bucket) group
    has at most ``max_bucket`` members — THE one bucket-size gate
    every candidate-join builder in the engine routes through
    (:func:`band_candidates`' self-join, the phash multi-probe
    expansion, and both incremental index probes), with
    :func:`sql_bucket_gate` as its verbatim oracle twin (r13 ADVICE:
    the probe-style joins built their own bucket joins and stayed
    Θ(bucket²)-exposed to a template flood the shared join was already
    guarded against). Extra columns pass through untouched, so callers
    may gate a tagged relation (e.g. an is_delta flag) in one place.
    Pass ``None`` to disable. Cost: one window count over the join's
    own (band, bucket) key — an exchange the downstream join needs
    anyway."""
    if max_bucket is None:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    return (
        banded.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_n") <= F.lit(max_bucket))
        .drop("_bucket_n")
    )


def oversized_band_buckets(
    banded: DataFrame, max_bucket: int = BAND_BUCKET_CAP
) -> DataFrame:
    """Diagnostic relation of the buckets :func:`band_candidates`
    excluded: (band, bucket, n_docs) for every bucket over the cap —
    the dead-letter twin of the pair stream, so a template flood
    degrades into an inspectable report instead of a silent output
    blow-up (or a silently missing one)."""
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > F.lit(max_bucket))
    )


def band_bucket_stats(banded: DataFrame, modality: str | None = None) -> DataFrame:
    """Per-band bucket telemetry over ONE banded relation — bucket
    count, largest bucket, how many buckets the cap guard would
    exclude, exact pair cost Σ n·(n−1)/2. THE single aggregation rule
    behind dedup_band_bucket_stats (text) and
    multimodal_band_bucket_stats (image/audio), so the pre-flight
    cannot drift between modalities; ``modality`` adds the label
    column the multimodal union needs."""
    bsz = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    aggs = []
    if modality is not None:
        aggs.append(F.lit(modality).alias("modality"))
    aggs += [
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket_n"),
        F.sum(
            F.when(F.col("n") > BAND_BUCKET_CAP, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_oversized"),
        F.sum(F.expr("(n * (n - 1)) div 2")).alias("pair_cost"),
    ]
    return bsz.groupBy(F.col("band").cast("long").alias("band")).agg(*aggs)


@register(
    "dedup_band_bucket_stats",
    oracle=_sql_shingle_ctes()
    + f"""
    , bsz AS (
        SELECT band, bucket, COUNT(*) AS n
        FROM bands GROUP BY band, bucket
    )
    SELECT CAST(band AS BIGINT) AS band,
           COUNT(*) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket_n,
           CAST(SUM(CASE WHEN n > {BAND_BUCKET_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oversized,
           CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS pair_cost
    FROM bsz GROUP BY band
    """,
)
def dedup_band_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket telemetry — the pre-flight a 100 TB dedup
    pass runs BEFORE generating pairs: bucket count, largest bucket,
    how many buckets the :data:`BAND_BUCKET_CAP` guard would exclude,
    and the exact pair cost Σ n·(n−1)/2 the band join will pay. On the
    fixture n_oversized is 0 everywhere (organic buckets are single
    digits); on an adversarial corpus this is the relation that says
    WHERE the flood is before the job spends anything on it.

    Exact oracle: the banding CTE block is the registered MinHash
    pipeline verbatim; pair cost stays in integer arithmetic (n·(n−1)
    is even, so floor-div 2 is exact in both engines — the
    FLOOR-not-ROUND rule)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return band_bucket_stats(_band_keys(_minhash_sigs(spark, docs)))


def exact_jaccard(text_a, text_b):
    """Exact distinct-shingle jaccard of two text columns, rounded to
    6 dp — the verify expression every candidate-pair consumer shares
    (twin of the oracle's _SQL_VERIFY_TAIL formula)."""
    sh_a = F.array_distinct(shingles(text_a))
    sh_b = F.array_distinct(shingles(text_b))
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return F.round(inter / union, 6)


_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
        FROM documents
    ), hashed AS (
        SELECT doc_id, {SQL_HASH60.format(x="token")} AS h FROM toks
    ), bits AS (
        SELECT doc_id, UNNEST(RANGE(0, 60)) AS bit, h FROM hashed
    ), votes AS (
        SELECT doc_id, bit,
               SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS balance
        FROM bits GROUP BY doc_id, bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN balance > 0
                         THEN (1::BIGINT << CAST(bit AS INTEGER))
                         ELSE 0::BIGINT END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document, exact oracle: the token hash is
    :func:`portable_hash60`, so DuckDB reproduces every bit vote and
    the final fingerprint integer exactly.

    Each token hashes to 60 bits; per bit the document accumulates ±1;
    the sign pattern is the fingerprint. Computed as an explode over
    (token × bit) then two hash aggregations — shuffle-friendly and
    linear, no per-doc Python. Near-dup = small Hamming distance
    between fingerprints; the pytest asserts identical texts collide
    and distinct texts don't.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = fan_out(spark, docs).select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    ).withColumn("h", portable_hash60(F.col("token")))
    bits = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("bit"),
        "h",
    ).withColumn(
        "vote",
        F.when(F.expr("shiftright(h, bit) & 1") == 1, 1).otherwise(-1),
    )
    return (
        bits.groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("balance"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("balance") > 0, F.expr("shiftleft(1L, cast(bit as int))"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )


def _bounded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .filter(F.size(F.split("text", " ")) >= 3)
    )


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs (doc_a < doc_b, jaccard ≥ 0.05) on
    the bounded doc range shared by dedup_ngram_jaccard and the
    clustering operator."""
    docs = _bounded_docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(shingles(F.col("text"), 3)).alias("gset")
    )
    a, b = docs.alias("a"), docs.alias("b")
    # r16 (2×-tail triage, the dedup_fuzzy_levenshtein finding): a
    # post-join filter on the jaccard got pushed into the join
    # condition AHEAD of doc_id<, so the two array_intersect calls in
    # the ratio ran on every ORDERED pair (n² of the bounded range)
    # before the free inequality halved them. Authoring the condition
    # with doc_id< first prices the intersects on n(n-1)/2 pairs.
    # Same rows, same values — only conjunct order.
    n_shared = F.size(F.array_intersect("a.gset", "b.gset")).cast("double")
    jac = n_shared / (
        F.size("a.gset") + F.size("b.gset") - n_shared
    )
    return (
        a.join(b, (F.col("a.doc_id") < F.col("b.doc_id")) & (jac >= 0.05))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH grams AS (
        SELECT doc_id,
               LIST_DISTINCT([STRING_SPLIT(text, ' ')[i] || ' ' ||
                              STRING_SPLIT(text, ' ')[i+1] || ' ' ||
                              STRING_SPLIT(text, ' ')[i+2]
                              FOR i IN RANGE(1, LEN(STRING_SPLIT(text, ' ')) - 1)])
                 AS gset
        FROM documents
        WHERE doc_id < 300 AND LEN(STRING_SPLIT(text, ' ')) >= 3
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               LEN(LIST_FILTER(a.gset, g -> LIST_CONTAINS(b.gset, g))) AS n_shared,
               LEN(a.gset) AS n_a, LEN(b.gset) AS n_b
        FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared), 6) AS jaccard
    FROM pairs
    WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity on a bounded doc range (the
    DuckDB-checkable twin of the MinHash path — at corpus scale the
    MinHash bands generate the candidates and this formula verifies)."""
    return _ngram_pairs(spark, sf_dir)


# Shared recursive-closure CTE prefix: 3-gram Jaccard pair graph →
# symmetric edges → transitive reach. dedup_cluster_components reads
# the min-label per node off it; dedup_survivorship composes it with
# the quality projection. ONE text so the two oracles cannot drift.
_COMPONENT_CTES = """grams AS (
        SELECT doc_id,
               LIST_DISTINCT([STRING_SPLIT(text, ' ')[i] || ' ' ||
                              STRING_SPLIT(text, ' ')[i+1] || ' ' ||
                              STRING_SPLIT(text, ' ')[i+2]
                              FOR i IN RANGE(1, LEN(STRING_SPLIT(text, ' ')) - 1)])
                 AS gset
        FROM documents
        WHERE doc_id < 300 AND LEN(STRING_SPLIT(text, ' ')) >= 3
    ), rawpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               LEN(LIST_FILTER(a.gset, g -> LIST_CONTAINS(b.gset, g))) AS n_shared,
               LEN(a.gset) AS n_a, LEN(b.gset) AS n_b
        FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    ), pairs AS (
        SELECT doc_a, doc_b FROM rawpairs
        WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.05
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM grams
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), comp AS (
        SELECT s AS doc_id, MIN(d) AS component_id FROM reach GROUP BY s
    )"""


@register(
    "dedup_cluster_components", executes_on_build=True,
    oracle=f"""
    WITH RECURSIVE {_COMPONENT_CTES}
    SELECT doc_id, component_id FROM comp
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-dup pair graph, each doc labeled with the min doc_id of its
    component (the canonical representative a dedup pass would keep).

    Iterative min-label propagation: labels start as doc_id; each round
    every node takes the min of its own label and its neighbors', until
    a fixpoint (driver-controlled loop, data stays distributed — the
    standard Spark shape for iterative graph algorithms; rounds needed
    = graph diameter, so near-dup clusters converge in 2-3 rounds).
    The oracle is a DuckDB recursive-CTE transitive closure.
    """
    docs = _bounded_docs(spark, sf_dir).select("doc_id")
    pairs = _ngram_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.selectExpr("doc_a AS s", "doc_b AS d").unionByName(
        pairs.selectExpr("doc_b AS s", "doc_a AS d")
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("component_id"))
    edges = edges.localCheckpoint(eager=True)  # pairs are reused every round
    for _ in range(10):  # diameter bound; fixture clusters are tiny
        msgs = edges.join(
            labels, edges.s == labels.doc_id
        ).select(F.col("d").alias("doc_id"), "component_id")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id"))
        ).localCheckpoint(eager=True)  # truncate the iterative lineage
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component_id") != F.col("o.component_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (
        SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id < 250
    ), pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
                        i -> a.e[i] * b.e[i])) AS dot,
               SQRT(LIST_SUM(LIST_TRANSFORM(a.e, x -> x * x))) AS norm_a,
               SQRT(LIST_SUM(LIST_TRANSFORM(b.e, x -> x * x))) AS norm_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(dot / (norm_a * norm_b), 4) AS cosine
    FROM pairs
    WHERE dot / (norm_a * norm_b) >= 0.3
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs on a bounded id range.

    The pairwise formula is the exactness baseline; at corpus scale the
    same expression runs only on LSH-bucketed candidates (see
    sim_ann_lsh), never on the full cross product.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 250)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
    )
    # r16 (guide §1.2/§2.5, the dedup_semantic_prune recipe): each
    # row's norm is computed ONCE here instead of per pair — the same
    # fold expression, so dot/(nrm_a*nrm_b) is bit-identical — and the
    # streamed side of the nested-loop pair join spreads to the
    # session's parallelism (the bounded 250-row relation otherwise
    # arrives as one partition and the whole 31k-pair fold runs
    # serially).
    norm = lambda side: F.sqrt(  # noqa: E731
        F.aggregate(side, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    embn = emb.withColumn("nrm", norm(F.col("e")))
    a = embn.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = embn.alias("b")
    dot = F.aggregate(
        F.zip_with("a.e", "b.e", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("raw_cosine"),
    )
    return pairs.filter(F.col("raw_cosine") >= 0.3).select(
        "vec_a", "vec_b", F.round("raw_cosine", 4).alias("cosine")
    )


@register(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH d AS (
        SELECT doc_id, text, SUBSTRING(text, 1, 12) AS block,
               LENGTH(text) AS len FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEVENSHTEIN(a.text, b.text) AS BIGINT) AS edit_dist
    FROM d a JOIN d b
      ON a.block = b.block AND a.doc_id < b.doc_id
     AND ABS(a.len - b.len) <= 16
    WHERE LEVENSHTEIN(a.text, b.text) <= 24
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance with prefix blocking:
    only documents sharing a 12-char prefix block (and similar length)
    are compared, then Levenshtein ≤ 24 confirms.

    Blocking is what makes edit-distance dedup feasible at scale —
    the equi-join on the block key bounds the pair space the O(n·m)
    Levenshtein kernel ever sees, the same candidate-first shape as
    the MinHash path (there the block key is a band bucket). Exact
    oracle: both engines implement classic unweighted edit distance.

    r16 (2×-tail triage #1, guide §1.2 per-task work): the original
    post-join ``filter(edit_dist <= 24)`` was pushed into the join
    condition AHEAD of the cheap predicates, so the UNBOUNDED O(n·m)
    kernel ran first on every block-equal ordered pair — 17,008 pairs
    of ~300-char texts at sf0.1, measured 14.6 s for the kernel alone
    — and a second time in the projection. Now (1) the distance uses
    Spark's THRESHOLDED form ``levenshtein(a, b, 24)`` — banded
    O(k·n), early-exit, returns −1 above the threshold and the exact
    distance otherwise, so it is value-identical on every surviving
    row — and (2) the whole condition is authored in the join with
    the cheap gates first (doc_id <, length-diff ≤ 16 keeps 606 of
    17,008 pairs at sf0.1) so the kernel prices only the gated pairs.
    Same rows, same values; oracle MATCH re-verified. A/B:
    14.67 s → 0.26 s median.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.substring("text", 1, 12).alias("block"),
        F.length("text").alias("len"),
    )
    a, b = d.alias("a"), d.alias("b")
    lev24 = F.levenshtein(F.col("a.text"), F.col("b.text"), 24)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= 16)
            & (lev24 >= 0),  # banded: exact distance iff <= 24, else -1
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev24.cast("long").alias("edit_dist"),
        )
    )


@register(
    "dedup_containment",
    oracle="""
    WITH grams AS (
        SELECT doc_id,
               LIST_DISTINCT([STRING_SPLIT(text, ' ')[i] || ' ' ||
                              STRING_SPLIT(text, ' ')[i+1] || ' ' ||
                              STRING_SPLIT(text, ' ')[i+2]
                              FOR i IN RANGE(1, LEN(STRING_SPLIT(text, ' ')) - 1)])
                 AS gset
        FROM documents
        WHERE doc_id < 300 AND LEN(STRING_SPLIT(text, ' ')) >= 3
    )
    SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
           ROUND(CAST(LEN(LIST_FILTER(a.gset, g -> LIST_CONTAINS(b.gset, g)))
                      AS DOUBLE) / LEN(a.gset), 6) AS containment
    FROM grams a JOIN grams b ON a.doc_id != b.doc_id
    WHERE CAST(LEN(LIST_FILTER(a.gset, g -> LIST_CONTAINS(b.gset, g)))
               AS DOUBLE) / LEN(a.gset) >= 0.5
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: |A∩B| / |A| ≥ 0.5 flags doc A as
    (half-)contained in B — the case Jaccard misses when a short doc
    is embedded in a much longer one (boilerplate wrappers, quote
    chains). Directional, so both (A in B) and (B in A) can appear.

    Same bounded-range shingle relation as dedup_ngram_jaccard; at
    corpus scale the candidate pairs come from MinHash bands and this
    formula is the verifier.
    """
    docs = _bounded_docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(shingles(F.col("text"), 3)).alias("gset")
    )
    a, b = docs.alias("a"), docs.alias("b")
    # r16 note: the _ngram_pairs conjunct-order fix does NOT transfer
    # here — `doc_id !=` removes only the n self-pairs of n², so the
    # intersect count is unchanged either way (A/B read a wash);
    # original shape kept.
    pairs = a.join(b, F.col("a.doc_id") != F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_contained"),
        F.col("b.doc_id").alias("doc_container"),
        (
            F.size(F.array_intersect("a.gset", "b.gset")).cast("double")
            / F.size("a.gset")
        ).alias("c"),
    )
    return pairs.filter(F.col("c") >= 0.5).select(
        "doc_contained", "doc_container", F.round("c", 6).alias("containment")
    )


def _minhash_sigs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """MinHash signature table for a doc set (doc_id + 16 mh columns);
    the explode/agg form shared by batch and incremental dedup.

    Each shingle is string-hashed ONCE (the projected ``h`` column),
    then the 16 permutations are linear mod-p transforms of it —
    min-aggregated with map-side partials, so the one shuffle carries
    only (doc_id, 16 longs) partial states."""
    exploded = fan_out(spark, docs).select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("text")))).alias("shingle"),
    )
    hashed = exploded.select(
        "doc_id", F.pmod(portable_hash60(F.col("shingle")), F.lit(1 << 32)).alias("h")
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MINHASH_P))
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_AB)
        ]
    )


def _band_keys(sigs: DataFrame) -> DataFrame:
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # comma-joined row minima as the bucket key —
                        # portable across engines (the DuckDB oracle
                        # reproduces it verbatim). At 100 TB re-hash the
                        # string to a long (xxhash64) to shrink the
                        # shuffle key; collisions only ADD candidates,
                        # never lose them, so recall is unaffected.
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{b * MINHASH_ROWS + r}")
                                for r in range(MINHASH_ROWS)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bucket")


@register("dedup_incremental_minhash", executes_on_build=True, oracle=_INCREMENTAL_MINHASH_ORACLE)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup: new documents check against a
    PERSISTED signature index, never against each signature's source
    text and never base-vs-base. Exact oracle: both the md5-bucket
    base/delta split and the portable-hash signature pipeline are
    engine-independent, so DuckDB reproduces the delta-vs-index
    candidate set exactly; the pytest additionally proves parity with
    the full batch run.

    This is the shape that keeps a 100 TB corpus dedup affordable: the
    index (doc_id + 16 longs ≈ 136 B/doc) is written once and appended
    per ingest batch; each new batch costs O(|delta| + collisions) —
    signatures for the delta, a band-bucket join against the index,
    and exact-jaccard verification only on colliding pairs. Re-running
    the full pairwise dedup per ingest would re-scan the corpus.

    Here the split is md5(doc_id) bucket < 80 → "already indexed";
    the base signature table round-trips through parquet (the index IS
    storage, not lineage), the delta band-joins against base+delta
    bands, and base×base pairs are excluded by construction. The
    banded relation routes through :func:`gate_oversized` before the
    probe join — the SAME flood guard (and dead-letter telemetry via
    :func:`oversized_band_buckets`) as the batch path, mirrored in the
    oracle's bands_ok gate (r14: previously this probe join was
    ungated and Θ(bucket²)-exposed).
    """
    import os

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    base_docs = docs.filter(bucket < 80)
    delta_docs = docs.filter(bucket >= 80)

    index_dir = os.path.join(scratch_dir("kf_mh_index_"), "sigs")
    _minhash_sigs(spark, base_docs).write.mode("overwrite").parquet(index_dir)
    base_sigs = spark.read.parquet(index_dir)  # the persisted index
    delta_sigs = _minhash_sigs(spark, delta_docs)

    # tag membership BEFORE the gate so one shared gate pass serves
    # both join sides (delta = probe side, base+delta = index side)
    all_bands = gate_oversized(
        _band_keys(base_sigs)
        .withColumn("is_delta", F.lit(0))
        .unionByName(
            _band_keys(delta_sigs).withColumn("is_delta", F.lit(1))
        )
    )
    candidate_ids = (
        all_bands.filter(F.col("is_delta") == 1)
        .select("doc_id", "band", "bucket")
        .alias("d")
        .join(
            all_bands.select("doc_id", "band", "bucket").alias("x"),
            (F.col("d.band") == F.col("x.band"))
            & (F.col("d.bucket") == F.col("x.bucket"))
            & (F.col("d.doc_id") != F.col("x.doc_id")),
        )
        .select(
            F.least(F.col("d.doc_id"), F.col("x.doc_id")).alias("doc_a"),
            F.greatest(F.col("d.doc_id"), F.col("x.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    candidates = (
        candidate_ids.join(docs, candidate_ids.doc_a == docs.doc_id)
        .select("doc_a", "doc_b", F.col("text").alias("text_a"))
        .join(docs, F.col("doc_b") == docs.doc_id)
        .select("doc_a", "doc_b", "text_a", F.col("text").alias("text_b"))
    )
    sh_a = F.array_distinct(shingles(F.col("text_a")))
    sh_b = F.array_distinct(shingles(F.col("text_b")))
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return (
        candidates.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "dedup_semantic_prune",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), dups AS (
        SELECT DISTINCT b.vec_id
        FROM v a JOIN v b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.e[i] * b.e[i]))
              / (SQRT(LIST_SUM(LIST_TRANSFORM(a.e, x -> x * x)))
                 * SQRT(LIST_SUM(LIST_TRANSFORM(b.e, x -> x * x)))), 6) >= 0.35
    )
    SELECT v.vec_id, v.label FROM v
    WHERE v.vec_id NOT IN (SELECT vec_id FROM dups)
    """,
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: within each embedding cluster,
    drop every vector whose cosine to a lower-id clustermate reaches
    the threshold, keeping the lowest-id representative of each
    semantic neighborhood (Abbas et al. 2023, "SemDeDup" — public
    paper; the keep-one-representative-per-near-group recipe).

    The cluster key is what makes this scale: pairwise cosine runs
    ONLY inside a cluster (here the fixture's `label`; at 100 TB the
    assignment comes from `embedding_kmeans`, composed upstream), so
    pair cost is sum of per-cluster squares, never corpus n². The
    equi-join on the cluster key is an ordinary shuffle join; AQE
    splits any oversized cluster, and the threshold filter runs
    JVM-side (zip_with/aggregate fold, no Python)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    # r16 (guide §1.2 per-task work + §2.5 salt, measured: the
    # interpreted higher-order cos fold was 6.6 s of the 6.9 s total,
    # on ONE task — AQE coalesces the tiny shuffle, and the fixture's
    # 10 labels cap parallelism at 10 anyway, while the expansion's
    # output explosion is invisible to input-bytes skew handling):
    # (1) each row's norm is computed ONCE here instead of per PAIR —
    #     the same fold expression, so dot/(nrm_a*nrm_b) is
    #     bit-identical to the previous per-pair evaluation;
    # (2) the self-join is salted: b carries pmod(xxhash64(vec_id), k)
    #     and a replicates over all k salts, so each (label, salt)
    #     cell holds deg²/k pairs — the standard hot-key split, which
    #     at 100 TB is exactly the oversized-cluster mitigation;
    # (3) both sides repartition to (label, s) at the session's
    #     parallelism with a PINNED count (REPARTITION_BY_NUM), which
    #     the join reuses and AQE cannot coalesce back to one task.
    nrm = F.sqrt(F.aggregate("e", F.lit(0.0), lambda s, x: s + x * x))
    embn = emb.withColumn("nrm", nrm)
    k = SEMDEDUP_PAIR_SALT
    width = spark.sparkContext.defaultParallelism
    a = (
        embn.withColumn("s", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        .repartition(width, "label", "s")
        .alias("a")
    )
    b = (
        embn.withColumn(
            "s", F.pmod(F.xxhash64("vec_id"), F.lit(k)).cast("int")
        )
        .repartition(width, "label", "s")
        .alias("b")
    )
    dot = F.aggregate(
        F.zip_with("a.e", "b.e", lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    # round before thresholding so a pair within ulps of 0.35 can't be
    # pruned in one engine only (fold order differs across engines)
    cos = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6)
    dups = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= 0.35)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return emb.join(dups, "vec_id", "left_anti").select("vec_id", "label")


# --- dedup_cascade_report --------------------------------------------------

_SURVIVOR_PREFIX = """keep AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ), survivors AS (
        SELECT d.doc_id, d.text FROM documents d JOIN keep k USING (doc_id)
    ), """

#: the near-dup pair stream of stage 2, verbatim the dedup_near_minhash
#: oracle but fed the stage-1 survivor relation (the helper's
#: source/prefix parameters exist for exactly this composition)
_CASCADE_PAIRS_SQL = (
    _sql_shingle_ctes(source="survivors", prefix=_SURVIVOR_PREFIX)
    + f"""
    , bands_ok AS ({sql_bucket_gate("bands")})
    , cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_ok a
        JOIN bands_ok b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id
    )"""
    + _SQL_VERIFY_TAIL
)

_CASCADE_ORACLE = f"""
    WITH t AS ({_CASCADE_PAIRS_SQL}),
    tot AS (SELECT COUNT(*) AS n FROM documents),
    sv AS (SELECT COUNT(*) AS n
           FROM (SELECT MIN(doc_id) FROM documents GROUP BY text)),
    p2 AS (SELECT COUNT(DISTINCT doc_b) AS n FROM t)
    SELECT 'exact' AS stage, tot.n AS n_in, tot.n - sv.n AS n_pruned,
           sv.n AS n_out
    FROM tot, sv
    UNION ALL
    SELECT 'near_minhash' AS stage, sv.n AS n_in, p2.n AS n_pruned,
           sv.n - p2.n AS n_out
    FROM sv, p2
"""


@register("dedup_cascade_report", oracle=_CASCADE_ORACLE)
def dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE as one accounting op — exact pass
    first, MinHash near-dup pass on the survivors (the RefinedWeb /
    Llama corpus recipe: cheap exact collapse shrinks the expensive
    fuzzy stage's input), reporting per stage how many documents went
    in, were pruned, and came out. This is the number a data lead
    reads before/after every ingestion epoch: stage-level yield, not
    pair dumps.

    Stage 1 keeps MIN(doc_id) per exact text group; stage 2 runs the
    SAME shared MinHash pipeline as dedup_near_minhash
    (:func:`_minhash_sigs` → :func:`_band_keys` →
    :func:`band_candidates` with the bucket gate → candidate-only
    jaccard ≥ 0.5) over stage 1's survivors and prunes every doc with
    a verified lower-id near-twin. EXACT oracle: the shared shingle
    CTE block parameterized onto the survivor relation.

    Scale: stage 1 is one hash-agg on text (map-side partial); stage 2
    inherits the banded join's per-bucket pair bound; the report
    itself is three scalar aggregates — nothing corpus-sized ever
    reaches the driver."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r15 (guide §2.4, three rewrites — the before plan scanned
    # documents 13 times):
    # 1. survivorship as a WINDOW: doc_id is unique, so a row survives
    #    iff its doc_id equals its text group's min — the keeper
    #    groupBy + join-back re-derived the corpus scan per consumer.
    # 2. the two verify-attach joins read DOCS, not survivors: the
    #    candidate ids are survivor ids and doc_id is unique, so the
    #    text lookup is identical row for row — and the cap-bounded
    #    candidate side travels broadcast (the dedup_near_minhash tail
    #    pattern) instead of the planner broadcasting the corpus.
    # 3. both stage counts come from ONE aggregate (survivor count =
    #    COUNT(DISTINCT text)), lazily pinned (1 row) so r1 and r2
    #    share it without a second pass.
    tw = Window.partitionBy("text")
    survivors = (
        docs.withColumn("keeper", F.min("doc_id").over(tw))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "text")
    )

    cand_ids = band_candidates(_band_keys(_minhash_sigs(spark, survivors)))
    cands = (
        F.broadcast(cand_ids)
        .join(docs, cand_ids.doc_a == docs.doc_id)
        .select("doc_a", "doc_b", F.col("text").alias("text_a"))
    )
    cands = (
        F.broadcast(cands)
        .join(docs, F.col("doc_b") == docs.doc_id)
        .select("doc_a", "doc_b", "text_a", F.col("text").alias("text_b"))
    )
    pruned2 = (
        cands.withColumn(
            "jaccard", exact_jaccard(F.col("text_a"), F.col("text_b"))
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_b")
        .distinct()
        .agg(F.count("*").cast("long").alias("p2"))
    )
    # sv counts the distinct-text GROUPS the window keeps one keeper
    # for — countDistinct alone ignores a NULL text group while the
    # window would still keep its keeper row, so the null group is
    # added back explicitly (r15 ADVICE; no-op on the null-free
    # fixtures, exact on any input)
    stats = docs.agg(
        F.count("*").cast("long").alias("tot"),
        (
            F.countDistinct("text")
            + F.coalesce(
                F.max(F.col("text").isNull().cast("long")), F.lit(0)
            )
        ).alias("sv"),
    ).localCheckpoint(eager=False)

    r1 = stats.select(
        F.lit("exact").alias("stage"),
        F.col("tot").alias("n_in"),
        (F.col("tot") - F.col("sv")).alias("n_pruned"),
        F.col("sv").alias("n_out"),
    )
    r2 = stats.crossJoin(F.broadcast(pruned2)).select(
        F.lit("near_minhash").alias("stage"),
        F.col("sv").alias("n_in"),
        F.col("p2").alias("n_pruned"),
        (F.col("sv") - F.col("p2")).alias("n_out"),
    )
    return r1.unionByName(r2)


@register(
    "dedup_survivorship", executes_on_build=True,
    oracle=f"""
    WITH RECURSIVE {_COMPONENT_CTES}, scored AS (
        SELECT doc_id,
               LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
               LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct
        FROM documents
        WHERE doc_id < 300 AND LEN(STRING_SPLIT(text, ' ')) >= 3
    ), members AS (
        SELECT c.doc_id, c.component_id, s.n_tokens, s.n_distinct
        FROM comp c JOIN scored s USING (doc_id)
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                 PARTITION BY component_id
                 ORDER BY CAST(n_distinct AS DOUBLE) / n_tokens DESC, doc_id
               ) AS quality_rank,
               COUNT(*) OVER (PARTITION BY component_id) AS n_members,
               FIRST_VALUE(doc_id) OVER (
                 PARTITION BY component_id
                 ORDER BY CAST(n_distinct AS DOUBLE) / n_tokens DESC, doc_id
               ) AS survivor_doc_id
        FROM members
    )
    SELECT doc_id, component_id, n_tokens, n_distinct,
           CAST(quality_rank AS BIGINT) AS quality_rank,
           CAST(n_members AS BIGINT) AS n_members,
           survivor_doc_id,
           quality_rank = 1 AS kept
    FROM ranked
    """,
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivorship ledger over the near-dup clusters:
    every document gets a row recording its component, its quality
    rank inside the component, which member survives, and whether the
    row itself is kept. Unlike the min-id convention (cluster
    components, SemDeDup prune), the survivor here is the BEST
    member — max lexical-diversity ratio n_distinct/n_tokens,
    doc_id tiebreak — which is what production corpus dedup actually
    keeps (the keep-best-copy recipe), and the per-row ledger is the
    auditable artifact a removal pass replays.

    Composes :func:`dedup_cluster_components` (the iterative
    min-label propagation; all clustering cost lives there) with the
    posttrain scoring projection re-derived inline; the oracle
    composes the shared ``_COMPONENT_CTES`` closure so both engines
    read the identical cluster assignment. Singleton components keep
    themselves (rank 1 of 1) — the ledger covers the whole bounded
    population, not just duplicates.

    Scale: the window partitions by component_id — component-sized,
    never corpus-wide; the ratio ordering is the IEEE double of two
    exact int64s (identical in both engines, same discipline as
    pref_rejection_sampling); everything downstream of the cluster
    loop is one shuffle on component_id.
    """
    labels = dedup_cluster_components(spark, sf_dir)
    toks = F.split("text", " ")
    scored = _bounded_docs(spark, sf_dir).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    members = labels.join(scored, "doc_id")
    ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    w = Window.partitionBy("component_id").orderBy(
        ratio.desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("component_id")
    ranked = members.select(
        "doc_id",
        "component_id",
        "n_tokens",
        "n_distinct",
        F.row_number().over(w).cast("long").alias("quality_rank"),
        F.count("*").over(wc).cast("long").alias("n_members"),
        F.first("doc_id").over(w).alias("survivor_doc_id"),
    )
    return ranked.withColumn("kept", F.col("quality_rank") == 1)
