"""Round-10 corpus-curation operators — the five canonical
LLM-training-data stages the engine still lacked (VERDICT.md r9 tasks
1-5): cross-document substring-span dedup, benchmark decontamination,
PII-class redaction, HTML/boilerplate extraction, and
token-count-aware chunking.

Scale design notes (per operator, also in each docstring):

* every stage is tokenize/regex → explode → hash-keyed aggregation —
  the same map-heavy, small-key-shuffle shape as the rest of the
  dedup/text family; no pair space, no driver-side data collection,
  no Python UDFs (all JVM codegen expressions).
* fixtures contain no PII/HTML/eval-set, so the PII, HTML, and
  decontamination operators first SYNTHESIZE their input column
  deterministically from (doc_id, text) with expressions reproduced
  verbatim in the DuckDB oracle — the plant is part of the contract,
  so the detection logic is hash-verified end to end, not just
  shape-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clj_kinesis_to_firehose_spark.functions import shingles
from clj_kinesis_to_firehose_spark.operators.llm_dedup import (
    SQL_HASH60,
    portable_hash60,
)
from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import (
    fan_out,
    load_table,
    scratch_dir,
)
from clj_kinesis_to_firehose_spark.sources.streams import (
    DOCS_RAW_SCHEMA,
    read_replay,
    write_doc_replay,
)
from clj_kinesis_to_firehose_spark.streaming.pipelines import (
    read_epochs,
    run_epochs,
    write_epoch,
)

# --- dedup_substring_spans -------------------------------------------------

#: span width (tokens) for cross-document repeated-span detection.
SPAN_WIDTH = 6
#: anchor modulus: only spans with hash % SPAN_ANCHOR_MOD == 0 are
#: indexed. Anchoring is on the SPAN hash, so a repeated span is
#: either indexed in every document that contains it or in none —
#: detection is consistent, and the index stays ~1/mod of the span
#: stream at any corpus size (the suffix-array-scale knob).
SPAN_ANCHOR_MOD = 4
#: synthetic boilerplate prefix planted on doc_id % 5 == 0 — a
#: 13-token repeated header so the fixture contains long guaranteed
#: cross-document spans (the thing this operator exists to catch) in
#: addition to the corpus's natural repeated phrases. The phrase is
#: chosen so FOUR of its eight pure-boilerplate width-6 spans survive
#: hash anchoring (h % 4 == 0 at span offsets 1, 2, 4, 6 — verified in
#: tests), so planted detection is exercised non-vacuously; a phrase
#: whose spans all hash to non-anchored residues would silently test
#: nothing.
SPAN_BOILERPLATE = (
    "subscribe to our team newsletter for daily updates"
    " and special offers here today"
)

#: shared DuckDB CTE block for the span-dedup family (detection,
#: removal, incremental): boilerplate plant → token arrays → width-W
#: stride-1 spans with the portable 60-bit hash → anchored subset.
#: ONE copy, composed by every oracle in the family — per the r9
#: lesson that duplicated oracle rule text is pure drift risk.
SQL_SPAN_CTES = f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN '{SPAN_BOILERPLATE} ' || text
                  ELSE text END AS text
      FROM documents
    ), toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t,
             LEN(STRING_SPLIT(text, ' ')) AS n
      FROM aug
    ), spans AS (
      SELECT doc_id, s AS span_start,
             {SQL_HASH60.format(
                 x=f"ARRAY_TO_STRING(t[s + 1 : s + {SPAN_WIDTH}], ' ')"
             )} AS h
      FROM toks, UNNEST(RANGE(0, n - {SPAN_WIDTH - 1})) AS r(s)
      WHERE n >= {SPAN_WIDTH}
    ), anch AS (
      SELECT * FROM spans WHERE h % {SPAN_ANCHOR_MOD} = 0
    )"""


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the deterministic boilerplate plant (the Spark
    twin of SQL_SPAN_CTES's ``aug``)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(SPAN_BOILERPLATE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t: array<string>, n) — SQL_SPAN_CTES's ``toks``."""
    return fan_out(spark, _aug_docs(spark, sf_dir)).select(
        "doc_id",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).alias("n"),
    )


def _anchored_spans(toks: DataFrame) -> DataFrame:
    """(doc_id, span_start, h) for anchored spans — SQL_SPAN_CTES's
    ``anch``: width-W stride-1 spans, portable hash, h % mod == 0."""
    return (
        toks.filter(F.col("n") >= SPAN_WIDTH)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(0), F.col("n") - SPAN_WIDTH)
            ).alias("span_start"),
        )
        .select(
            "doc_id",
            "span_start",
            portable_hash60(
                F.concat_ws(
                    " ", F.slice("t", F.col("span_start") + 1, SPAN_WIDTH)
                )
            ).alias("h"),
        )
        .filter(F.pmod("h", F.lit(SPAN_ANCHOR_MOD)) == 0)
    )


@register(
    "dedup_substring_spans",
    oracle=f"""
    {SQL_SPAN_CTES}, clus AS (
      SELECT h, COUNT(DISTINCT doc_id) AS n_docs
      FROM anch GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT a.doc_id, a.span_start,
           CAST({SPAN_WIDTH} AS BIGINT) AS span_len,
           a.h AS cluster_hash, c.n_docs
    FROM anch a JOIN clus c USING (h)
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup: find token spans repeated across
    DOCUMENTS (not whole-document or whole-line duplicates — the
    suffix-array-style stage that catches boilerplate headers, license
    blocks, and templated sentences that survive doc-level dedup).
    Emits one row per (document, anchored span position) whose
    SPAN_WIDTH-token span also occurs in at least one other document,
    with the span's cluster hash and cluster size.

    Pipeline: deterministic boilerplate plant (fixture has no long
    natural spans guaranteed) → token spans at stride 1 → portable
    60-bit span hash (hashed once per span) → hash-anchored sampling
    (h % mod == 0, so sampling is consistent per span VALUE) →
    group-by-hash distinct-doc count → keep clusters ≥ 2 → join
    positions back.

    Scale: the span stream is |tokens| rows but map-generated with the
    scan (explode of a sequence — no shuffle); anchoring cuts it 1/mod
    before the ONE exchange, a hash partition on the span hash. The
    cluster size then comes from two sort-based window functions over
    that same partitioning (dense_rank over doc_id, then its max —
    count-distinct without a second aggregation pass), so the span
    stream is scanned, tokenized, and hashed exactly ONCE and there is
    no self-join re-deriving it (the groupBy+join formulation plans as
    two full scan pipelines). Sort-based windows spill, so a
    mega-cluster (a span in millions of docs) skews one partition but
    never OOMs — the deliberate trade vs collect_set. Never O(n²):
    a bucket IS a span hash; membership is emitted directly, no pair
    enumeration. At 100 TB, raise SPAN_ANCHOR_MOD to keep the index at
    a fixed fraction of corpus tokens — detection stays
    value-consistent by construction.
    """
    anch = _anchored_spans(_tokenized(spark, sf_dir))
    by_doc = Window.partitionBy("h").orderBy("doc_id")
    whole = Window.partitionBy("h")
    return (
        anch.withColumn("rk", F.dense_rank().over(by_doc))
        .withColumn("n_docs", F.max("rk").over(whole))
        .filter(F.col("n_docs") >= 2)
        .select(
            "doc_id",
            "span_start",
            F.lit(SPAN_WIDTH).cast("long").alias("span_len"),
            F.col("h").alias("cluster_hash"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )


# --- text_decontaminate_probes ---------------------------------------------

#: n-gram width for decontamination overlap (the eval-overlap standard
#: is 8-13 grams on real text; the fixture's ~55-token docs need a
#: tighter window to exercise the partial-overlap path).
DECON_WIDTH = 5
#: a doc is dropped when ≥ 1/DECON_DROP_DENOM of its distinct n-grams
#: appear in the probe set (integer-threshold compare — no float
#: boundary ambiguity across engines).
DECON_DROP_DENOM = 20


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct DECON_WIDTH-gram stream used by the
    decontamination gate, attribution, and the streaming admission
    twin (ONE Spark copy of the rule, mirroring the SQL CTE reuse)."""
    return docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles(F.col("text"), width=DECON_WIDTH))
        ).alias("shingle"),
    )


_SQL_DECON_PROBES = f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t, text FROM documents
    ), shl AS (
      SELECT doc_id,
             CASE WHEN LEN(t) >= {DECON_WIDTH}
                  THEN LIST_DISTINCT(LIST_TRANSFORM(RANGE(LEN(t) - {DECON_WIDTH - 1}),
                       i -> ARRAY_TO_STRING(LIST_SLICE(t, i + 1, i + {DECON_WIDTH}), ' ')))
                  ELSE [text] END AS sh
      FROM toks
    ), sh AS (
      SELECT doc_id, UNNEST(sh) AS shingle FROM shl
    ), probe AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    )
    SELECT s.doc_id,
           COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN p.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           ROUND(AVG(CASE WHEN p.shingle IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
             AS contamination_frac,
           CAST(SUM(CASE WHEN p.shingle IS NOT NULL THEN 1 ELSE 0 END)
                * {DECON_DROP_DENOM} >= COUNT(*) AS INT) AS drop_flag
    FROM sh s LEFT JOIN probe p USING (shingle)
    GROUP BY s.doc_id
    """


@register("text_decontaminate_probes", oracle=_SQL_DECON_PROBES)
def text_decontaminate_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document n-gram overlap against a
    held-out probe (eval) set, with a contamination fraction and a
    drop flag — the stage that keeps eval questions out of training
    corpora. The probe set is synthesized deterministically from the
    fixture (docs with doc_id % 97 == 0 stand in for the eval set), so
    probe docs score 1.0, genuinely-overlapping docs score a partial
    fraction, and everything else 0. Extends corpus_decontaminate
    (llm_text.py:379), which emits only absolute shared-gram counts
    for the overlapping docs — this op produces the actionable form: a
    row for EVERY doc with its contamination fraction and the drop
    decision a pipeline gates on.

    Scale: a REAL probe n-gram set is eval-set-sized (thousands of
    benchmarks × items — MBs), and AQE broadcast-joins it against the
    exploded corpus shingle stream at runtime: one corpus scan +
    tokenize, no shuffle for the membership test, one doc_id-keyed
    aggregation with map-side combine. The hint is deliberately NOT
    forced: this fixture synthesizes the probe as a corpus fraction
    (doc_id % 97), and a forced broadcast of a corpus-fraction
    relation is exactly the 100 TB OOM the r7 hint-removal pass
    eliminated repo-wide. The drop
    threshold compares integers (hits × denom ≥ total) so the flag has
    no float-boundary ambiguity between engines.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = _doc_shingles(fan_out(spark, docs))
    probe = (
        sh.filter(F.col("doc_id") % 97 == 0)
        .select("shingle")
        .distinct()
        .withColumn("is_probe", F.lit(1))
    )
    hit = F.when(F.col("is_probe").isNotNull(), 1).otherwise(0)
    # no broadcast hint: a REAL eval set is MBs and AQE will broadcast
    # it at runtime; this fixture's probe is synthesized as a corpus
    # FRACTION (doc_id % 97), so forcing a broadcast would be wrong at
    # scale (r7 precedent: AQE decides, plan audits check the executed
    # plan)
    return (
        sh.join(probe, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum(hit).cast("long").alias("n_contaminated"),
            F.round(F.avg(hit.cast("double")), 6).alias("contamination_frac"),
            (F.sum(hit) * DECON_DROP_DENOM >= F.count("*"))
            .cast("int")
            .alias("drop_flag"),
        )
    )


# --- text_pii_redact ---------------------------------------------------------

#: PII regex classes, applied in this order (Java regex ∩ RE2 subset:
#: no lookaround, no backrefs — portable between Spark and DuckDB).
#: Email before long-id so local-part digits are consumed as <EMAIL>;
#: phone/IPv4 before long-id is cosmetic (their digit runs are < 9).
PII_PATTERNS = [
    ("email", r"[a-z0-9._%-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("phone", r"\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("longid", r"[0-9]{9,}", "<ID>"),
]

_PII_PLANT_SQL = """
      text
      || CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
              ELSE '' END
      || CASE WHEN doc_id % 4 = 0
              THEN ' call +1-555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-0199'
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' host 10.' || (doc_id % 256)::VARCHAR || '.0.'
                   || (doc_id % 200)::VARCHAR || ' up'
              ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN ' ref 9' || lpad(doc_id::VARCHAR, 10, '0')
              ELSE '' END
"""


def _pii_redact_oracle() -> str:
    # progressive counting: class k is counted on the text already
    # redacted by classes 1..k-1, so every count equals the number of
    # placeholders that class actually inserts (a 9+-digit run inside
    # an email local part is consumed by <EMAIL> and NOT also counted
    # as a long ID)
    stage = "pii_text"
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            f"CAST(LEN(REGEXP_EXTRACT_ALL({stage}, '{pat}')) AS BIGINT)"
            f" AS n_{name}"
        )
        stage = f"REGEXP_REPLACE({stage}, '{pat}', '{token}', 'g')"
    body = ",\n           ".join(counts)
    return f"""
    WITH aug AS (
      SELECT doc_id, {_PII_PLANT_SQL} AS pii_text FROM documents
    )
    SELECT doc_id,
           {body},
           {stage} AS redacted
    FROM aug
    """


def _pii_plant_expr() -> F.Column:
    """The deterministic PII plant over (doc_id, text) — Spark twin of
    _PII_PLANT_SQL, shared by text_pii_redact and corpus_chunk_greedy
    (which chunks the planted text because its symbol-bearing words
    are the cost-varying input that separates the greedy law from
    offset alignment)."""
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-0199"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(" up"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" ref 9"),
                F.lpad(F.col("doc_id").cast("string"), 10, "0"),
            ),
        ).otherwise(""),
    )


@register("text_pii_redact", oracle=_pii_redact_oracle())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-class detection and redaction: per-class redaction counts
    (email, E.164-ish phone, IPv4, ≥9-digit ID runs — each class
    counted AFTER the earlier classes redacted, so every count equals
    the placeholders that class inserts) and the redacted text with
    class placeholders — the real-pattern upgrade of
    text_clean_redact (llm_text.py:236), over text with
    deterministically PLANTED PII (the fixture contains none; the
    plant expression is reproduced verbatim in the oracle, so
    detection is hash-verified against known ground truth — doc_id % 3
    docs carry an email, % 4 a phone, % 5 an IP, % 7 a long ID).

    Scale: pure regexp_count/regexp_replace column expressions — one
    scan, whole-stage codegen, no shuffle, no Python. The pattern
    table is the extension point; patterns are kept inside the
    Java-regex ∩ RE2 subset so the oracle twins exactly. Replacement
    order matters (email first so local-part digits never leak into
    the long-ID class) and is pinned by PII_PATTERNS.
    """
    docs = load_table(spark, sf_dir, "documents")
    pii_text = _pii_plant_expr()
    aug = docs.select("doc_id", pii_text.alias("pii_text"))
    stage = F.col("pii_text")
    count_cols = []
    for name, pat, token in PII_PATTERNS:
        count_cols.append(
            F.regexp_count(stage, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        stage = F.regexp_replace(stage, pat, token)
    return aug.select("doc_id", *count_cols, stage.alias("redacted"))


# --- text_html_extract -------------------------------------------------------

def html_visible_text(col):
    """Strip script/style blocks, then all tags, collapse whitespace,
    trim — the HTML→visible-text expression shared by the operator and
    the crafted-row edge tests. Script/style interiors use '[^<]*'
    (true until the content itself contains '<'), and the tag pattern
    '<[^>]*>' truncates at a '>' INSIDE a quoted attribute — both are
    documented fast-path limits of regex extraction; a production
    widening swaps patterns here, in ONE place."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(col, r"<script[^>]*>[^<]*</script>", " "),
                    r"<style[^>]*>[^<]*</style>",
                    " ",
                ),
                r"<[^>]*>",
                " ",
            ),
            " +",
            " ",
        )
    )


def html_main_text(col):
    """Main-content pull: the first-<p>-to-last-</p> region (greedy
    group — all paragraph blocks, excluding nav/footer chrome outside
    them), TAG-STRIPPED with the same visible-text chain so interior
    markup can never make main_text longer than the page's visible
    text (which would push the boilerplate ratio negative)."""
    return html_visible_text(F.regexp_extract(col, r"<p>(.*)</p>", 1))


def pii_redact_expr(col):
    """The ordered PII redaction chain over an arbitrary string column
    (PII_PATTERNS order: email first so local-part digits never leak
    into the long-ID class)."""
    out = col
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


_HTML_WRAP_SQL = """
      '<html><head><title>doc ' || doc_id::VARCHAR || '</title>'
      || '<style>p{color:#333;margin:0}</style>'
      || '<script>var t="tracking";trk(t);</script></head>'
      || '<body><div class="nav">home | products | about | login</div>'
      || '<p>' || text || '</p>'
      || '<div class="footer">copyright 2026 example corp | terms | privacy</div>'
      || '</body></html>'
"""


@register(
    "text_html_extract",
    oracle=rf"""
    WITH html AS (
      SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents
    ), stripped AS (
      SELECT doc_id, html,
             TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(html,
               '<script[^>]*>[^<]*</script>', ' ', 'g'),
               '<style[^>]*>[^<]*</style>', ' ', 'g'),
               '<[^>]*>', ' ', 'g'),
               ' +', ' ', 'g')) AS full_text,
             TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
               REGEXP_EXTRACT(html, '<p>(.*)</p>', 1),
               '<script[^>]*>[^<]*</script>', ' ', 'g'),
               '<style[^>]*>[^<]*</style>', ' ', 'g'),
               '<[^>]*>', ' ', 'g'),
               ' +', ' ', 'g')) AS main_text
      FROM html
    )
    SELECT doc_id, main_text,
           CAST(LENGTH(html) AS BIGINT) AS n_html_chars,
           CAST(LENGTH(full_text) AS BIGINT) AS n_text_chars,
           CAST(LENGTH(main_text) AS BIGINT) AS n_main_chars,
           ROUND(1.0 - LENGTH(main_text) / CAST(LENGTH(full_text) AS DOUBLE), 6)
             AS boilerplate_frac
    FROM stripped
    """,
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction with a boilerplate ratio: strip
    script/style blocks and tags, collapse whitespace, pull the main
    content (<p> body), and report how much of the visible text is
    chrome (nav/footer) — the crawl-ingest stage a C4-style pipeline
    runs before any quality filtering. The fixture is plain text, so a
    deterministic HTML wrapper (head + style + script + nav + footer)
    is synthesized identically in both engines; extraction must
    recover exactly the original text as main content, which the
    oracle hash proves.

    Scale: a fixed chain of regexp_replace/regexp_extract column
    expressions — one scan, codegen, no shuffle, no Python; the same
    shape handles real crawl HTML by widening the pattern chain.
    Script/style interiors use '[^<]*' (their content has no '<'),
    keeping the patterns in the shared Java/RE2 subset instead of
    relying on non-greedy dialect quirks.
    """
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title>"),
        F.lit('<style>p{color:#333;margin:0}</style>'),
        F.lit('<script>var t="tracking";trk(t);</script></head>'),
        F.lit('<body><div class="nav">home | products | about | login</div>'),
        F.lit("<p>"),
        F.col("text"),
        F.lit("</p>"),
        F.lit('<div class="footer">copyright 2026 example corp | terms | privacy</div>'),
        F.lit("</body></html>"),
    )
    h = docs.select("doc_id", html.alias("html"))
    s = h.select(
        "doc_id",
        "html",
        html_visible_text(F.col("html")).alias("full_text"),
        html_main_text(F.col("html")).alias("main_text"),
    )
    return s.select(
        "doc_id",
        "main_text",
        F.length("html").cast("long").alias("n_html_chars"),
        F.length("full_text").cast("long").alias("n_text_chars"),
        F.length("main_text").cast("long").alias("n_main_chars"),
        F.round(
            1.0 - F.length("main_text") / F.length("full_text").cast("double"), 6
        ).alias("boilerplate_frac"),
    )


# --- corpus_chunk_tokens -----------------------------------------------------

#: context-window budget per chunk, in BPE-ish tokens (not words).
CHUNK_TOKEN_BUDGET = 16
#: per-word token-cost rule — text_token_count's bpe_ish segmentation
#: (llm_text.py:203) applied at word granularity: alpha runs, digit
#: runs, residual symbols each count one token.
CHUNK_COST_RE = "[a-z]+|[0-9]+|[^a-z0-9]"


@register(
    "corpus_chunk_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ), words AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS word,
             LEN(REGEXP_EXTRACT_ALL(t[i], '{CHUNK_COST_RE}')) AS cost
      FROM toks, UNNEST(RANGE(1, LEN(t) + 1)) AS r(i)
    ), cum AS (
      SELECT doc_id, pos, word, cost,
             SUM(cost) OVER (PARTITION BY doc_id ORDER BY pos) - cost AS cum_excl
      FROM words
    )
    SELECT doc_id,
           CAST(FLOOR(cum_excl / {CHUNK_TOKEN_BUDGET}.0) AS BIGINT) AS chunk_id,
           COUNT(*) AS n_words,
           CAST(SUM(cost) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS chunk_start,
           MD5(STRING_AGG(word, ' ' ORDER BY pos)) AS chunk_md5
    FROM cum
    GROUP BY doc_id, CAST(FLOOR(cum_excl / {CHUNK_TOKEN_BUDGET}.0) AS BIGINT)
    """,
)
def corpus_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count-aware chunking: split documents into context windows
    by a TOKEN budget, not word/char geometry (corpus_chunk_documents'
    limitation — corpus_ops.py:290). Each word costs its BPE-ish
    segment count (alpha runs + digit runs + symbols, the
    text_token_count rule). Boundary law: chunk k owns the document's
    global token OFFSETS [k·budget, (k+1)·budget), and a word belongs
    to the chunk where its FIRST token falls — token-offset-ALIGNED
    windows, not greedy-restart packing. The difference matters when a
    word straddles a window edge: its overflow consumes the next
    chunk's offsets (so a mid-document chunk can hold slightly fewer
    than budget tokens), whereas greedy packing would restart the
    count at every boundary. Offset alignment is chosen deliberately:
    chunk ids are a pure function of the prefix sum, so boundaries are
    stable under any partitioning and an append to the document never
    reflows earlier chunks — the property an incremental pipeline
    needs, and one greedy restart packing lacks only when costs vary
    (on uniform-cost text the two laws coincide). Output pins content
    (chunk md5 over the joined words), geometry (start position,
    word/token counts), and the boundary rule.

    Scale: one tokenize + posexplode (map-side, parallel with the
    scan), one doc-keyed window for the running sum, one (doc, chunk)
    aggregation — a single shuffle key family, map-side combinable.
    All integer arithmetic; chunk assignment is
    floor(exclusive-prefix-sum / budget), which both engines compute
    identically. At 100 TB the window partitions by doc_id — bounded
    by document length, never corpus length.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = fan_out(spark, docs).select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    ).withColumn(
        "cost",
        F.size(F.regexp_extract_all("word", F.lit(CHUNK_COST_RE), 0)),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cum = words.withColumn(
        "cum_excl", F.sum("cost").over(w) - F.col("cost")
    ).withColumn(
        "chunk_id",
        F.floor(F.col("cum_excl") / float(CHUNK_TOKEN_BUDGET)).cast("long"),
    )
    ordered_words = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "word"))),
        lambda s: s.word,
    )
    return cum.groupBy("doc_id", "chunk_id").agg(
        F.count("*").alias("n_words"),
        F.sum("cost").cast("long").alias("n_tokens"),
        F.min("pos").cast("long").alias("chunk_start"),
        F.md5(F.array_join(ordered_words, " ")).alias("chunk_md5"),
    )


# --- dedup_substring_remove ----------------------------------------------

#: batch boundary for the incremental span index: docs below are "the
#: existing corpus" (persisted index), docs at/above are the new batch.
SPAN_BATCH_SPLIT = 400


def _span_removal_positions(toks: DataFrame) -> DataFrame:
    """(doc_id, pos) token positions the substring-dedup action drops:
    anchored spans clustered on their hash, MIN-doc_id keeper retained,
    every non-keeper occurrence exploded to token positions (distinct,
    so overlapping spans union). Shared by dedup_substring_remove and
    corpus_admission_decision (which needs only the counts — never the
    reassembled text).

    The keeper rule is a WINDOW over the one hash-partitioned span
    stream, not a groupBy+join-back: the broadcast join's build side
    cannot reuse the probe side's exchange, so the join formulation
    re-ran the whole plant→tokenize→span-hash pipeline a second time
    (two full corpus passes — the same duplication
    dedup_substring_spans' docstring already banned for the report
    op). ``doc_id != MIN(doc_id) OVER (PARTITION BY h)`` is exactly
    the join's ``n_docs >= 2 AND doc_id != keeper``: a span hash with
    one distinct doc has every row equal to its min, and a hash with
    ≥2 distinct docs keeps precisely the non-keeper rows."""
    anch = _anchored_spans(toks)
    keeper = F.min("doc_id").over(Window.partitionBy("h"))
    return (
        anch.withColumn("keeper", keeper)
        .filter(F.col("doc_id") != F.col("keeper"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("span_start"),
                    F.col("span_start") + SPAN_WIDTH - 1,
                )
            ).alias("pos"),
        )
        .distinct()
    )


_SQL_SUBSTRING_REMOVE = f"""
    {SQL_SPAN_CTES}, clus AS (
      SELECT h, COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS keeper
      FROM anch GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ), rem AS (
      SELECT DISTINCT a.doc_id, a.span_start + i AS pos
      FROM anch a JOIN clus c USING (h), UNNEST(RANGE(0, {SPAN_WIDTH})) AS u(i)
      WHERE a.doc_id <> c.keeper
    ), words AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS word
      FROM toks, UNNEST(RANGE(1, n + 1)) AS r(i)
    ), kept AS (
      SELECT w.doc_id,
             STRING_AGG(w.word, ' ' ORDER BY w.pos) AS clean_text,
             COUNT(*) AS n_kept
      FROM words w LEFT JOIN rem r ON w.doc_id = r.doc_id AND w.pos = r.pos
      WHERE r.pos IS NULL
      GROUP BY w.doc_id
    )
    SELECT t.doc_id,
           COALESCE(k.clean_text, '') AS clean_text,
           CAST(t.n - COALESCE(k.n_kept, 0) AS BIGINT) AS n_tokens_removed,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_tokens_kept
    FROM toks t LEFT JOIN kept k USING (doc_id)
    """


@register("dedup_substring_remove", oracle=_SQL_SUBSTRING_REMOVE)
def dedup_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION stage of substring dedup: rewrite each document with
    cross-document repeated spans REMOVED, keeping one canonical copy
    corpus-wide (the cluster's min-doc_id "keeper" retains its text;
    every other occurrence's tokens are dropped, overlapping spans
    unioned at the token level). Emits the cleaned text plus
    removed/kept token counts — what actually lands in the training
    corpus after dedup_substring_spans' report.

    Scale: detection is the same one-exchange anchored-span pipeline;
    removal unions span token positions (explode of a constant-width
    sequence — map-side), anti-joins them against the posexploded word
    stream on (doc_id, pos), and reassembles per doc with an ordered
    collect. All shuffles are doc_id-keyed (bounded by document
    length) except the one span-hash exchange; the keeper rule
    (MIN(doc_id) per cluster) is deterministic under any partitioning,
    so the SAME bytes are removed on every run of a 100 TB corpus —
    the reproducibility property incremental pipelines need.
    """
    toks = _tokenized(spark, sf_dir)
    rem = _span_removal_positions(toks)
    words = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "word")
    )
    kept = (
        words.join(rem, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s.word,
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        toks.select("doc_id", "n")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
        )
    )


# --- dedup_incremental_spans -----------------------------------------------


@register(
    "dedup_incremental_spans",
    oracle=f"""
    {SQL_SPAN_CTES}, idx AS (
      SELECT DISTINCT h FROM anch WHERE doc_id < {SPAN_BATCH_SPLIT}
    ), batch AS (
      SELECT * FROM anch WHERE doc_id >= {SPAN_BATCH_SPLIT}
    ), batch_clus AS (
      SELECT h, COUNT(DISTINCT doc_id) AS batch_docs FROM batch GROUP BY h
    ), per_doc AS (
      SELECT b.doc_id,
             COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_vs_index,
             CAST(SUM(CASE WHEN c.batch_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_in_batch
      FROM batch b
      LEFT JOIN idx i ON b.h = i.h
      JOIN batch_clus c ON b.h = c.h
      GROUP BY b.doc_id
    )
    -- LEFT JOIN from the batch DOC list: a doc with zero anchored
    -- spans (short, or all spans non-anchored) is the cleanest case
    -- and must still get its row
    SELECT t.doc_id,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.n_dup_vs_index, 0) AS n_dup_vs_index,
           COALESCE(p.n_dup_in_batch, 0) AS n_dup_in_batch,
           CAST(COALESCE(p.n_dup_vs_index, 0) = 0
                AND COALESCE(p.n_dup_in_batch, 0) = 0 AS INT) AS is_clean
    FROM (SELECT doc_id FROM toks WHERE doc_id >= {SPAN_BATCH_SPLIT}) t
    LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring dedup — the production shape: a NEW ingest
    batch (doc_id >= split) is checked against (a) the persisted span
    index built from the existing corpus (doc_id < split) and (b)
    itself, WITHOUT rescanning the corpus text. Per new document:
    anchored span count, spans already in the index, spans repeated
    within the batch, and a clean flag — one row per batch document,
    including zero-span docs (the cleanest case) — the triage an incremental
    crawl pipeline gates admission on (cf. dedup_incremental_minhash /
    dedup_incremental_url for the doc- and URL-level twins).

    Scale: the index is corpus-sized, so it is NEVER broadcast — the
    membership test is a hash-keyed shuffle join on the span hash,
    both sides partitioned on h (in production the index is a bucketed
    table on h, making this join shuffle-free on the index side).
    Batch-internal repetition reuses the same exchange (groupBy h).
    Cost per ingest is O(batch tokens + matched index keys), never
    O(corpus) — the whole point of keeping the index.
    """
    toks = _tokenized(spark, sf_dir)
    anch = _anchored_spans(toks)
    # both membership signals as windows over ONE hash-partitioned
    # span stream (r15, guide §2.4 — the span-removal pattern): the
    # index side and the batch-cluster side each re-derived the whole
    # tokenize→span→hash pipeline to be joined back onto the batch
    # rows (4 corpus scans). Per h-partition: a span hash is "in the
    # index" iff ANY row of that hash is a base-corpus row, and its
    # batch cluster size is the count of DISTINCT batch doc_ids —
    # exactly the values the idx/batch_clus joins attached, row for
    # row. (Production note: with a persisted index table the join
    # formulation returns — here both sides descend from the same
    # corpus-derived relation, so the window is strictly less work.)
    hw = Window.partitionBy("h")
    flagged = anch.select(
        "doc_id",
        F.max(
            F.when(F.col("doc_id") < SPAN_BATCH_SPLIT, 1).otherwise(0)
        )
        .over(hw)
        .alias("in_idx"),
        F.size(
            F.collect_set(
                F.when(
                    F.col("doc_id") >= SPAN_BATCH_SPLIT, F.col("doc_id")
                )
            ).over(hw)
        ).alias("batch_docs"),
    )
    batch = flagged.filter(F.col("doc_id") >= SPAN_BATCH_SPLIT)
    idx_hit = F.when(F.col("in_idx") == 1, 1).otherwise(0)
    batch_hit = F.when(F.col("batch_docs") >= 2, 1).otherwise(0)
    per_doc = batch.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(idx_hit).cast("long").alias("n_dup_vs_index"),
        F.sum(batch_hit).cast("long").alias("n_dup_in_batch"),
    )
    # left join from the batch DOC list: a doc with zero anchored
    # spans still gets its (cleanest-possible) row
    batch_docs = toks.filter(F.col("doc_id") >= SPAN_BATCH_SPLIT).select(
        "doc_id"
    )
    return batch_docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("n_dup_vs_index", F.lit(0))
        .cast("long")
        .alias("n_dup_vs_index"),
        F.coalesce("n_dup_in_batch", F.lit(0))
        .cast("long")
        .alias("n_dup_in_batch"),
        (
            (F.coalesce("n_dup_vs_index", F.lit(0)) == 0)
            & (F.coalesce("n_dup_in_batch", F.lit(0)) == 0)
        )
        .cast("int")
        .alias("is_clean"),
    )


# --- text_html_links ---------------------------------------------------------

_HTML_LINKS_WRAP_SQL = """
      '<p>see <a href="https://p' || (doc_id % 7)::VARCHAR
      || '.example.com/item/' || doc_id::VARCHAR || '">here</a>'
      || ' and <a href="/rel/' || (doc_id % 13)::VARCHAR || '">rel</a>'
      || CASE WHEN doc_id % 3 = 0
              THEN ' <a rel="nofollow" href="https://ads.example.net/c?id='
                   || doc_id::VARCHAR || '">ad</a>'
              ELSE '' END
      || '</p><p>' || text || '</p>'
"""


@register(
    "text_html_links",
    oracle=f"""
    WITH html AS (
      SELECT doc_id, {_HTML_LINKS_WRAP_SQL} AS html FROM documents
    ), links AS (
      SELECT doc_id, html,
             REGEXP_EXTRACT_ALL(html, 'href="([^"]*)"', 1) AS hrefs
      FROM html
    )
    SELECT doc_id,
           CAST(LEN(hrefs) AS BIGINT) AS n_links,
           CAST(LEN(LIST_FILTER(hrefs, x -> x LIKE 'http%')) AS BIGINT)
             AS n_absolute,
           CAST(LEN(REGEXP_EXTRACT_ALL(html, 'rel="nofollow"')) AS BIGINT)
             AS n_nofollow,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
             LIST_TRANSFORM(LIST_FILTER(hrefs, x -> x LIKE 'http%'),
                            x -> REGEXP_EXTRACT(x, 'https?://([^/?]+)', 1))
           )), ',') AS hosts_csv
    FROM links
    """,
)
def text_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction from HTML — the crawl-graph stage: pull every
    href, split absolute vs relative, count nofollow anchors, and emit
    the distinct outbound hosts (sorted CSV, the adjacency a link-graph
    builder aggregates). Links are synthesized deterministically (the
    fixture has no HTML; the wrap is part of the oracle contract) with
    host variety (doc_id % 7 subdomains), relative paths, and a
    conditional nofollow ad link.

    Scale: regexp_extract_all + array lambdas — one scan, codegen, no
    shuffle, no Python; host extraction runs per-link inside the array
    (F.transform), never via a second explode+join. The downstream
    host-degree aggregation (not materialized here) would be the only
    shuffle, keyed on host.
    """
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<p>see <a href="https://p'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/item/"),
        F.col("doc_id").cast("string"),
        F.lit('">here</a>'),
        F.lit(' and <a href="/rel/'),
        (F.col("doc_id") % 13).cast("string"),
        F.lit('">rel</a>'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(' <a rel="nofollow" href="https://ads.example.net/c?id='),
                F.col("doc_id").cast("string"),
                F.lit('">ad</a>'),
            ),
        ).otherwise(""),
        F.lit("</p><p>"),
        F.col("text"),
        F.lit("</p>"),
    )
    h = docs.select("doc_id", html.alias("html"))
    hrefs = F.regexp_extract_all("html", F.lit('href="([^"]*)"'), 1)
    absolute = F.filter(hrefs, lambda x: x.startswith("http"))
    hosts = F.transform(
        absolute, lambda x: F.regexp_extract(x, "https?://([^/?]+)", 1)
    )
    return h.select(
        "doc_id",
        F.size(hrefs).cast("long").alias("n_links"),
        F.size(absolute).cast("long").alias("n_absolute"),
        F.regexp_count("html", F.lit('rel="nofollow"')).cast("long").alias(
            "n_nofollow"
        ),
        F.array_join(F.array_sort(F.array_distinct(hosts)), ",").alias(
            "hosts_csv"
        ),
    )


# --- text_gopher_rules -------------------------------------------------------

#: word-count admission band (Gopher-style repetition/geometry rules,
#: scaled to the fixture's 10-110-token documents).
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 20, 1000
#: mean word length must lie in [3, 10] characters.
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3, 10
#: ≥ 2 distinct stopwords must appear (the "real prose" signal).
GOPHER_MIN_STOPWORDS = 2
#: ≥ 80% of words must be purely alphabetic (as n_alpha*5 >= n*4).
#: longest word ≤ 20 chars.
GOPHER_MAX_WORDLEN = 20

from clj_kinesis_to_firehose_spark.operators.llm_text import STOPWORDS  # noqa: E402

_SQL_STOPLIST = "[" + ",".join(f"'{s}'" for s in STOPWORDS) + "]"


_SQL_GOPHER_RULES = f"""
    WITH m AS (
      SELECT doc_id,
             LEN(STRING_SPLIT(text, ' ')) AS n,
             LENGTH(text) - (LEN(STRING_SPLIT(text, ' ')) - 1) AS sum_len,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 w -> regexp_full_match(w, '[a-z]+'))) AS n_alpha,
             LIST_MAX(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                 w -> LENGTH(w))) AS max_wordlen,
             LEN(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(text, ' '),
                 w -> LIST_CONTAINS({_SQL_STOPLIST}, w)))) AS n_stop
      FROM documents
    ), r AS (
      SELECT doc_id,
             CAST(n BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS INT)
               AS r_wordcount,
             CAST({GOPHER_MIN_MWL} * n <= sum_len
                  AND sum_len <= {GOPHER_MAX_MWL} * n AS INT) AS r_mean_wordlen,
             CAST(n_stop >= {GOPHER_MIN_STOPWORDS} AS INT) AS r_stopwords,
             CAST(5 * n_alpha >= 4 * n AS INT) AS r_alpha_words,
             CAST(max_wordlen <= {GOPHER_MAX_WORDLEN} AS INT) AS r_max_wordlen
      FROM m
    )
    SELECT doc_id, r_wordcount, r_mean_wordlen, r_stopwords, r_alpha_words,
           r_max_wordlen,
           CAST(r_wordcount + r_mean_wordlen + r_stopwords + r_alpha_words
                + r_max_wordlen AS BIGINT) AS n_rules_passed,
           CAST(r_wordcount + r_mean_wordlen + r_stopwords + r_alpha_words
                + r_max_wordlen = 5 AS INT) AS keep
    FROM r
    """


def _gopher_columns(docs: DataFrame) -> DataFrame:
    """(doc_id, r_* flags, n_rules_passed, keep) over any documents
    relation — shared by the batch operator and the streaming
    admission twin (per-doc expressions, batch-boundary-safe)."""
    toks = F.split("text", " ")
    n = F.size(toks)
    sum_len = F.length("text") - (n - 1)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(
        F.array_distinct(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("^[a-z]+$")))
    max_wl = F.array_max(F.transform(toks, F.length))
    r_wordcount = n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS).cast("int")
    r_mwl = (
        (F.lit(GOPHER_MIN_MWL) * n <= sum_len)
        & (sum_len <= F.lit(GOPHER_MAX_MWL) * n)
    ).cast("int")
    r_stop = (n_stop >= GOPHER_MIN_STOPWORDS).cast("int")
    r_alpha = (n_alpha * 5 >= n * 4).cast("int")
    r_maxwl = (max_wl <= GOPHER_MAX_WORDLEN).cast("int")
    total = r_wordcount + r_mwl + r_stop + r_alpha + r_maxwl
    return docs.select(
        "doc_id",
        r_wordcount.alias("r_wordcount"),
        r_mwl.alias("r_mean_wordlen"),
        r_stop.alias("r_stopwords"),
        r_alpha.alias("r_alpha_words"),
        r_maxwl.alias("r_max_wordlen"),
        total.cast("long").alias("n_rules_passed"),
        (total == 5).cast("int").alias("keep"),
    )


@register("text_gopher_rules", oracle=_SQL_GOPHER_RULES)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule gate: the published heuristic filter
    battery (word-count band, mean-word-length band, minimum distinct
    stopwords, alphabetic-word fraction, longest-word cap) as per-rule
    pass flags plus the conjunctive keep decision — the form a corpus
    pipeline both gates on AND audits (per-rule failure rates tell you
    which rule is eating your corpus). Complements text_quality_score
    (continuous features) with the thresholded decision layer.

    Scale: one scan, all codegen array/length expressions, no shuffle.
    Every threshold compares INTEGERS (mean word length as cross-
    multiplication, alpha fraction as 5·n_alpha ≥ 4·n), so the gate is
    engine- and partitioning-exact — no float boundary can flip a doc.
    """
    return _gopher_columns(load_table(spark, sf_dir, "documents"))


# --- corpus_token_budget -------------------------------------------------

#: token-budget target the epoch estimate is reported against.
TOKEN_BUDGET_TARGET = 1_000_000
#: BPE-ish token rule over full text (text_token_count's bpe_ish rule:
#: alpha runs, digit runs, non-space symbols).
TOKEN_BUDGET_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "corpus_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_BUDGET_RE}')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (SELECT SUM(n_tokens) AS all_tokens FROM t)
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens / CAST(all_tokens AS DOUBLE), 6) AS token_share,
           ROUND({TOKEN_BUDGET_TARGET}.0 / n_tokens, 4) AS epochs_for_budget
    FROM t CROSS JOIN tot
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget report: document count, total BPE-ish
    tokens, corpus token share, and how many epochs of each source a
    fixed training budget represents — the sizing table a data-mixture
    design starts from (sources whose epochs_for_budget is high get
    up-sampled and risk memorization; the temperature-mix operator
    consumes exactly this signal).

    Scale: one scan with map-side-combined aggregation on `source`
    (tiny key space), then a broadcast of the 1-row total — the same
    shape as sample_temperature_source. Token counting is the shared
    regexp segmentation, JVM-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = fan_out(spark, docs).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(TOKEN_BUDGET_RE), 0)))
        .cast("long")
        .alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("all_tokens"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("all_tokens").cast("double"), 6).alias(
            "token_share"
        ),
        F.round(F.lit(float(TOKEN_BUDGET_TARGET)) / F.col("n_tokens"), 4).alias(
            "epochs_for_budget"
        ),
    )


# --- text_decontaminate_attribution ------------------------------------------


#: attribution n-gram width — tighter than the drop gate's
#: DECON_WIDTH on purpose: leak triage wants the sensitive detector,
#: admission wants the specific one.
ATTR_WIDTH = 4


@register(
    "text_decontaminate_attribution",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t, text FROM documents
    ), shl AS (
      SELECT doc_id,
             CASE WHEN LEN(t) >= {ATTR_WIDTH}
                  THEN LIST_DISTINCT(LIST_TRANSFORM(RANGE(LEN(t) - {ATTR_WIDTH - 1}),
                       i -> ARRAY_TO_STRING(LIST_SLICE(t, i + 1, i + {ATTR_WIDTH}), ' ')))
                  ELSE [text] END AS sh
      FROM toks
    ), sh AS (
      SELECT doc_id, UNNEST(sh) AS shingle FROM shl
    ), probe AS (
      SELECT doc_id AS probe_id, shingle FROM sh WHERE doc_id % 97 = 0
    ), pairs AS (
      SELECT s.doc_id, p.probe_id, COUNT(*) AS n_shared
      FROM sh s JOIN probe p USING (shingle)
      WHERE s.doc_id <> p.probe_id
      GROUP BY s.doc_id, p.probe_id
    )
    SELECT doc_id, probe_id AS top_probe_id, n_shared FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY n_shared DESC, probe_id) AS rk
      FROM pairs
    ) WHERE rk = 1
    """,
)
def text_decontaminate_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination ATTRIBUTION: for each doc overlapping the probe
    (eval) set, WHICH probe document it leaks — the top probe by shared
    distinct ATTR_WIDTH-grams (a tighter width than the drop gate, by design) (deterministic tie-break on probe_id), self-pairs
    excluded. text_decontaminate_probes answers "how contaminated";
    this answers "against which benchmark", which is what an eval-team
    triage actually consumes.

    Scale: same probe join as the fraction op (AQE broadcasts a real
    eval set at runtime; no forced hint), but the probe side keeps
    probe_id so the corpus stream aggregates per (doc, probe) — the pair space is bounded by actual overlaps, not |docs|
    × |probes| (the join only materializes matching shingles). One
    doc_id-window top-1 after a (doc, probe)-keyed agg.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = fan_out(spark, docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles(F.col("text"), width=ATTR_WIDTH))
        ).alias("shingle"),
    )  # ATTR_WIDTH differs from the gate's DECON_WIDTH by design
    probe = sh.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("probe_id"), "shingle"
    )
    # same no-hint rationale as text_decontaminate_probes
    pairs = (
        sh.join(probe, "shingle")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("doc_id", "probe_id")
        .agg(F.count("*").alias("n_shared"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_shared").desc(), F.col("probe_id")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("probe_id").alias("top_probe_id"), "n_shared")
    )


# --- corpus_shard_by_tokens --------------------------------------------------

#: target tokens per output shard.
SHARD_TOKEN_TARGET = 2000
#: doc_id range per prefix-sum bucket (phase-1 granularity of the
#: distributed cumulative sum).
SHARD_BUCKET_SIZE = 100


@register(
    "corpus_shard_by_tokens",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             LEN(REGEXP_EXTRACT_ALL(text, '{TOKEN_BUDGET_RE}')) AS cost
      FROM documents
    ), cum AS (
      SELECT doc_id, cost,
             SUM(cost) OVER (ORDER BY doc_id) - cost AS cum_excl
      FROM w
    )
    SELECT CAST(FLOOR(cum_excl / {SHARD_TOKEN_TARGET}.0) AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(cost) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id
    FROM cum GROUP BY 1
    """,
)
def corpus_shard_by_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment: pack documents (in doc_id
    order) into shards of ~SHARD_TOKEN_TARGET BPE-ish tokens each —
    the step that turns a curated corpus into equal-work training
    shards (token-balanced shards ⇒ balanced data-loader throughput;
    doc-count-balanced shards are NOT token-balanced when lengths are
    skewed).

    Scale: the naive formulation is a GLOBAL window cumsum — a
    single-partition sort, the canonical 100 TB anti-pattern. This
    implementation is the textbook two-phase distributed prefix sum
    instead: (1) per-doc token cost map-side; (2) bucket docs by
    doc_id range and aggregate per-bucket token totals (tiny
    relation); (3) one window over the BUCKET relation computes each
    bucket's global starting offset (|buckets| rows — fine in one
    partition at any corpus size worth having); (4) broadcast the
    offsets back and run the cumsum per bucket, partitioned —
    bucket_offset + within-bucket exclusive prefix = the exact global
    prefix, deterministically, because bucketing is by doc_id value,
    never by physical partition. The oracle computes the same integers
    with a plain global window, proving the distributed decomposition
    exact.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = fan_out(spark, docs).select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(TOKEN_BUDGET_RE), 0)
        ).alias("cost"),
        F.floor(F.col("doc_id") / SHARD_BUCKET_SIZE).alias("bucket"),
    )
    bucket_totals = w.groupBy("bucket").agg(F.sum("cost").alias("bucket_sum"))
    bucket_win = Window.orderBy("bucket")
    offsets = bucket_totals.select(
        "bucket",
        (F.sum("bucket_sum").over(bucket_win) - F.col("bucket_sum")).alias(
            "bucket_offset"
        ),
    )
    in_bucket = Window.partitionBy("bucket").orderBy("doc_id")
    cum = w.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "cost",
        (
            F.col("bucket_offset")
            + F.sum("cost").over(in_bucket)
            - F.col("cost")
        ).alias("cum_excl"),
    )
    return (
        cum.withColumn(
            "shard_id",
            F.floor(F.col("cum_excl") / float(SHARD_TOKEN_TARGET)).cast("long"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("cost").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


# --- embedding_outlier_prune ---------------------------------------------

#: MAD multiplier for the embedding-space outlier gate.
EMB_OUTLIER_K = 3


@register(
    "embedding_outlier_prune",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), pe AS (
      SELECT vec_id, UNNEST(e) AS x, GENERATE_SUBSCRIPTS(e, 1) AS pos FROM v
    ), cent AS (
      -- centroid rounded to 6 dp: AVG's summation order differs
      -- between engines; quantizing the coordinate kills that
      -- last-bit channel before any distance math sees it
      SELECT pos, ROUND(AVG(x), 6) AS c FROM pe GROUP BY pos
    ), d AS (
      -- pos-ordered left fold seeded with 0.0 — the EXACT summation
      -- order of the Spark plan's F.aggregate(zip_with(...)), so the
      -- pre-round dist is bit-identical, not just close (an
      -- unordered hash-agg SUM could differ in the last bits and
      -- flip the 4-dp round at a boundary)
      SELECT pe.vec_id,
             ROUND(SQRT(LIST_REDUCE(
               LIST_PREPEND(0.0, LIST((pe.x - cent.c) * (pe.x - cent.c)
                                      ORDER BY pe.pos)),
               (acc, x) -> acc + x)), 4) AS dist
      FROM pe JOIN cent USING (pos) GROUP BY pe.vec_id
    ), med AS (
      SELECT QUANTILE_CONT(dist, 0.5) AS m FROM d
    ), mad AS (
      SELECT QUANTILE_CONT(ABS(d.dist - med.m), 0.5) AS s FROM d, med
    )
    SELECT d.vec_id, d.dist,
           ROUND(med.m, 4) AS median_dist,
           ROUND(mad.s, 4) AS mad_dist,
           CAST(d.dist > ROUND(med.m + {EMB_OUTLIER_K} * mad.s, 4) AS INT)
             AS is_outlier
    FROM d, med, mad
    """,
)
def embedding_outlier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier pruning: distance of every vector to the
    GLOBAL corpus centroid, robust-scaled by median/MAD, with the
    k·MAD outlier flag — the curation stage that drops encoder
    failures and out-of-domain junk before clustering/dedup runs in
    embedding space (complements embedding_centroid_distance, which is
    per-LABEL scatter for labeled data; this is unsupervised).

    Scale: the centroid is one posexplode + per-dimension average
    (map-side combine; dim rows out) collected into a single broadcast
    array; distances are a JVM zip_with/aggregate fold in a map-only
    pass. The median/MAD are two 1-ROW global aggregates over the
    distance column (exact interpolated percentile — state is the
    distance relation, which at 100 TB you'd swap for the fixed-bin
    sketch of agg_approx_quantile; exact here because the flag's
    oracle demands it). Cross-engine determinism is closed at BOTH
    float channels: the centroid coordinate is rounded to 6 dp on
    each side (AVG summation order is engine-dependent), and the
    oracle folds the squared diffs in pos order with the same 0.0
    seed as this plan's F.aggregate — so the pre-round dist is
    bit-identical, and the 4-dp round plus same-side threshold
    rounding means no float last-bit can flip a flag.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    pe = fan_out(spark, emb).select(
        "vec_id", F.posexplode("e").alias("pos0", "x")
    ).withColumn("pos", F.col("pos0") + 1)
    cent = (
        pe.groupBy("pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("e", "centroid", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        4,
    )
    # lazy pin (r15, guide §2.4/§5): median, MAD, and the final flag
    # are DEPENDENT order statistics — three passes over the distance
    # column are the algorithm's contract — but without the pin each
    # pass re-ran the centroid aggregation and the 64-dim fold (6
    # embedding scans). The pinned relation is two narrow columns per
    # vector (id + one double), never the vectors themselves.
    d = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", dist.alias("dist"))
        .localCheckpoint(eager=False)
    )
    med = d.agg(F.expr("percentile(dist, 0.5)").alias("m"))
    with_m = d.crossJoin(F.broadcast(med))
    mad = with_m.agg(
        F.expr("percentile(abs(dist - m), 0.5)").alias("s"),
        F.first("m").alias("m"),
    )
    return d.crossJoin(F.broadcast(mad)).select(
        "vec_id",
        "dist",
        F.round("m", 4).alias("median_dist"),
        F.round("s", 4).alias("mad_dist"),
        (F.col("dist") > F.round(F.col("m") + EMB_OUTLIER_K * F.col("s"), 4))
        .cast("int")
        .alias("is_outlier"),
    )


# --- corpus_admission_decision -----------------------------------------------


_SQL_ADMISSION = f"""
    WITH g AS ({_SQL_GOPHER_RULES}),
    d AS ({_SQL_DECON_PROBES}),
    r AS ({_SQL_SUBSTRING_REMOVE})
    SELECT g.doc_id,
           g.keep AS quality_keep,
           CAST(1 - d.drop_flag AS INT) AS decon_keep,
           CAST(r.n_tokens_removed = 0 AS INT) AS span_clean,
           CAST(g.keep = 1 AND d.drop_flag = 0 AND r.n_tokens_removed = 0
                AS INT) AS admitted,
           CAST(g.n_rules_passed AS BIGINT) AS n_quality_rules,
           d.contamination_frac,
           r.n_tokens_removed
    FROM g JOIN d ON g.doc_id = d.doc_id
           JOIN r ON g.doc_id = r.doc_id
    """


@register("corpus_admission_decision", oracle=_SQL_ADMISSION)
def corpus_admission_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ADMISSION DECISION — the artifact a curation
    pipeline actually publishes: every gate's verdict side by side
    (quality-rule battery, decontamination, substring-dedup
    cleanliness) plus the conjunctive admitted flag and the evidence
    columns reviewers drill into (rules passed, contamination
    fraction, tokens that dedup would strip). This is the
    documents-plus-attributes architecture: each gate is an
    independently-computed attribute relation, joined on doc_id at
    decision time — so gates can be recomputed or swapped without
    touching each other (re-running one attribute job never invalidates
    the others).

    Scale: three attribute pipelines (each individually plan-audited by
    its own operator) joined on doc_id — all three shuffle-partition on
    the same key, and each is already doc_id-unique so the join is
    1:1:1 with no fan-out. At 100 TB the attribute relations live as
    bucketed-by-doc_id tables and the decision join is shuffle-free;
    the decision itself is pure integer logic on the joined row.
    """
    g = text_gopher_rules(spark, sf_dir).select(
        "doc_id",
        F.col("keep").alias("quality_keep"),
        F.col("n_rules_passed").alias("n_quality_rules"),
    )
    d = text_decontaminate_probes(spark, sf_dir).select(
        "doc_id",
        (1 - F.col("drop_flag")).cast("int").alias("decon_keep"),
        "contamination_frac",
    )
    # span cleanliness from the removal-POSITION counts directly — the
    # remove op's ordered text reassembly (its most expensive stage) is
    # pure waste when only the count is consumed
    toks = _tokenized(spark, sf_dir)
    rem_counts = (
        _span_removal_positions(toks)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_tokens_removed"))
    )
    # the removal counts LEFT-join onto the gate relations directly
    # (r15, guide §2.4): the old span arm ran one more doc_id-only
    # corpus scan purely to enumerate documents, but the gopher gate
    # already carries every doc_id — absent count = clean doc, exactly
    # the old left-join-on-toks semantics.
    return (
        g.join(d, "doc_id")
        .join(rem_counts, "doc_id", "left")
        .withColumn(
            "n_tokens_removed",
            F.coalesce("n_tokens_removed", F.lit(0).cast("long")),
        )
        .withColumn(
            "span_clean", (F.col("n_tokens_removed") == 0).cast("int")
        )
        .select(
            "doc_id",
            "quality_keep",
            "decon_keep",
            "span_clean",
            (
                (F.col("quality_keep") == 1)
                & (F.col("decon_keep") == 1)
                & (F.col("span_clean") == 1)
            )
            .cast("int")
            .alias("admitted"),
            "n_quality_rules",
            "contamination_frac",
            "n_tokens_removed",
        )
    )


# --- stream_corpus_admission ---------------------------------------------

@register("stream_corpus_admission", executes_on_build=True, oracle=_SQL_ADMISSION)
def stream_corpus_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus admission IN the ingest stream: documents arrive as
    doc_id-ordered micro-batches (the file-source replay double —
    production swaps in the Kinesis/Firehose connector, everything
    after load() is identical), and foreachBatch decides admission per
    batch. The production split this encodes: per-document gates
    (quality battery, probe-overlap counts) are computed ON the batch,
    while corpus-level attributes (the probe n-gram set, the
    substring-dedup removal index) are PRE-BUILT static relations the
    batch joins against — an ingest batch never rescans the corpus.
    The union of all per-batch decisions must equal the batch
    operator's output exactly (same oracle as
    corpus_admission_decision), because every gate is per-doc given
    the static indexes — micro-batch boundaries cannot change any
    decision.

    Scale: per batch, one scan of the batch + a join against each
    static index (hash-keyed on shingle / doc_id; in production the
    indexes are bucketed tables). Per-batch driver traffic is zero —
    decisions append straight to the output table; nothing collects.
    """
    docs = load_table(spark, sf_dir, "documents")
    replay_dir = write_doc_replay(spark, sf_dir, n_slices=4)

    # corpus-level attribute indexes, MATERIALIZED once before the
    # stream (parquet tables — per-batch joins read these, they never
    # re-derive the corpus pipelines; the production persisted-index
    # story, and ~4x less corpus compute than lazy DAGs re-evaluated
    # per micro-batch)
    toks = _tokenized(spark, sf_dir)
    rem_dir = scratch_dir("kf_admission_rem_")
    (
        _span_removal_positions(toks)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_tokens_removed"))
        .write.mode("overwrite")
        .parquet(rem_dir)
    )
    probe_dir = scratch_dir("kf_admission_probe_")
    (
        _doc_shingles(fan_out(spark, docs.select("doc_id", "text")))
        .filter(F.col("doc_id") % 97 == 0)
        .select("shingle")
        .distinct()
        .withColumn("is_probe", F.lit(1))
        .write.mode("overwrite")
        .parquet(probe_dir)
    )
    rem_counts = spark.read.parquet(rem_dir)
    probe = spark.read.parquet(probe_dir)

    def admit_batch(batch_df: DataFrame, epoch: int) -> DataFrame:
        g = _gopher_columns(batch_df).select(
            "doc_id",
            F.col("keep").alias("quality_keep"),
            F.col("n_rules_passed").alias("n_quality_rules"),
        )
        sh = _doc_shingles(batch_df)
        hit = F.when(F.col("is_probe").isNotNull(), 1).otherwise(0)
        d = (
            sh.join(probe, "shingle", "left")
            .groupBy("doc_id")
            .agg(
                F.round(F.avg(hit.cast("double")), 6).alias(
                    "contamination_frac"
                ),
                (F.sum(hit) * DECON_DROP_DENOM < F.count("*"))
                .cast("int")
                .alias("decon_keep"),
            )
        )
        r = batch_df.select("doc_id").join(rem_counts, "doc_id", "left").select(
            "doc_id",
            F.coalesce("n_tokens_removed", F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
        )
        return g.join(d, "doc_id").join(r, "doc_id").select(
            "doc_id",
            "quality_keep",
            "decon_keep",
            (F.col("n_tokens_removed") == 0).cast("int").alias("span_clean"),
            (
                (F.col("quality_keep") == 1)
                & (F.col("decon_keep") == 1)
                & (F.col("n_tokens_removed") == 0)
            )
            .cast("int")
            .alias("admitted"),
            "n_quality_rules",
            "contamination_frac",
            "n_tokens_removed",
        )

    return run_epochs(
        read_replay(spark, replay_dir, DOCS_RAW_SCHEMA), admit_batch
    )


# --- corpus_chunk_greedy -------------------------------------------------


def _greedy_walk(text: str) -> list[tuple]:
    """The greedy-restart chunk walk over one document — pure Python,
    unit-testable against the recursive-CTE recursion on crafted
    inputs (incl. cost-0 words and oversize words, where a naive
    `if running` guard diverges — the r10 review counterexample).
    Returns (chunk_id, n_words, n_tokens, chunk_start, chunk_md5)."""
    import hashlib
    import re as _re

    cost_re = _re.compile(CHUNK_COST_RE)
    words = text.split(" ")
    rows: list[tuple] = []
    running, chunk_id, start = 0, 0, 0
    bucket: list[str] = []
    for pos, w in enumerate(words):
        c = len(cost_re.findall(w))
        # mirror the oracle's recursion exactly: from the second word
        # on, split whenever running + cost exceeds the budget — even
        # at running == 0 (possible after cost-0 words)
        if pos > 0 and running + c > CHUNK_TOKEN_BUDGET:
            rows.append(
                (chunk_id, len(bucket), running, start,
                 hashlib.md5(" ".join(bucket).encode()).hexdigest())
            )
            chunk_id, running, start, bucket = chunk_id + 1, c, pos, [w]
        else:
            running += c
            bucket.append(w)
    rows.append(
        (chunk_id, len(bucket), running, start,
         hashlib.md5(" ".join(bucket).encode()).hexdigest())
    )
    return rows


@register(
    "corpus_chunk_greedy",
    oracle=f"""
    WITH RECURSIVE aug AS (
      SELECT doc_id, {_PII_PLANT_SQL} AS text FROM documents
    ), toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM aug
    ), words AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS word,
             LEN(REGEXP_EXTRACT_ALL(t[i], '{CHUNK_COST_RE}')) AS cost
      FROM toks, UNNEST(RANGE(1, LEN(t) + 1)) AS r(i)
    ), steps AS (
      SELECT doc_id, pos, word, cost, cost AS running, 0 AS chunk_id
      FROM words WHERE pos = 0
      UNION ALL
      SELECT w.doc_id, w.pos, w.word, w.cost,
             CASE WHEN s.running + w.cost > {CHUNK_TOKEN_BUDGET} THEN w.cost
                  ELSE s.running + w.cost END,
             CASE WHEN s.running + w.cost > {CHUNK_TOKEN_BUDGET}
                  THEN s.chunk_id + 1 ELSE s.chunk_id END
      FROM steps s JOIN words w ON w.doc_id = s.doc_id AND w.pos = s.pos + 1
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           COUNT(*) AS n_words, CAST(SUM(cost) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS chunk_start,
           MD5(STRING_AGG(word, ' ' ORDER BY pos)) AS chunk_md5
    FROM steps GROUP BY doc_id, chunk_id
    """,
)
def corpus_chunk_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY-restart token chunking — the second boundary law,
    complementing corpus_chunk_tokens' offset alignment: the token
    count restarts at every chunk boundary, a word opens a new chunk
    exactly when adding it would exceed the budget, and no chunk ever
    exceeds the budget (unless a single word alone does). Greedy is
    what you want when chunks feed a fixed context window (no token is
    wasted); offset alignment is what you want for incremental
    stability. Runs over the PII-PLANTED text (the plant's
    symbol-bearing words — emails, phones, IPs — have BPE-ish cost > 1,
    so the two laws genuinely diverge on this corpus; on uniform-cost
    text they coincide).

    Spark path: the law is inherently sequential WITHIN a document
    (each boundary depends on the previous), so the walk is Python —
    but each documents row already carries its WHOLE text (doc_id is
    unique), so no grouping is needed to assemble a document: the walk
    runs as mapInPandas over the scan (r16, guide §2.4/§4.1 — the
    previous groupBy(doc_id).applyInPandas paid a full shuffle plus a
    per-document Python call, ~10 s at sf0.1; one Arrow stage with a
    per-batch loop pays neither). Parallelism is per-document (the
    state never crosses documents), so the stage scales exactly like
    the scan. The oracle reproduces the same walk as a DuckDB
    recursive CTE — the one-word-per-step recursion both engines
    agree on.
    """
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _pii_plant_expr().alias("text")
    )
    out_schema = (
        "doc_id long, chunk_id long, n_words long, n_tokens long,"
        " chunk_start long, chunk_md5 string"
    )

    def chunk_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "doc_id", "chunk_id", "n_words", "n_tokens",
            "chunk_start", "chunk_md5",
        ]
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf.doc_id, pdf.text):
                rows.extend((doc_id, *r) for r in _greedy_walk(text))
            yield pd.DataFrame(rows, columns=cols)

    return fan_out(spark, docs).mapInPandas(chunk_docs, out_schema)


# --- stream_span_index_ingest ------------------------------------------------


@register(
    "stream_span_index_ingest", executes_on_build=True,
    oracle=f"""
    WITH numbered AS (
      SELECT doc_id, text, NTILE(4) OVER (ORDER BY doc_id) AS batch_id
      FROM documents
    ), aug AS (
      SELECT doc_id, batch_id,
             CASE WHEN doc_id % 5 = 0
                  THEN '{SPAN_BOILERPLATE} ' || text
                  ELSE text END AS text
      FROM numbered
    ), toks AS (
      SELECT doc_id, batch_id, STRING_SPLIT(text, ' ') AS t,
             LEN(STRING_SPLIT(text, ' ')) AS n
      FROM aug
    ), spans AS (
      SELECT doc_id, batch_id, s,
             {SQL_HASH60.format(
                 x=f"ARRAY_TO_STRING(t[s + 1 : s + {SPAN_WIDTH}], ' ')"
             )} AS h
      FROM toks, UNNEST(RANGE(0, n - {SPAN_WIDTH - 1})) AS r(s)
      WHERE n >= {SPAN_WIDTH}
    ), anch AS (
      SELECT * FROM spans WHERE h % {SPAN_ANCHOR_MOD} = 0
    ), first_seen AS (
      SELECT h, MIN(batch_id) AS first_batch FROM anch GROUP BY h
    ), per_doc AS (
      SELECT a.doc_id,
             COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN f.first_batch < a.batch_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_prior
      FROM anch a JOIN first_seen f USING (h)
      GROUP BY a.doc_id
    )
    SELECT t.doc_id, CAST(t.batch_id AS BIGINT) AS batch_id,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.n_dup_vs_prior, 0) AS n_dup_vs_prior,
           CAST(COALESCE(p.n_dup_vs_prior, 0) = 0 AS INT) AS novel
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    """,
)
def stream_span_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A GROWING substring-dedup index in the ingest stream: each
    micro-batch checks its documents' anchored spans against the index
    accumulated from ALL PRIOR batches, reports per-doc duplication
    (batch 1 sees an empty index — everything novel; later batches
    increasingly hit it), then appends its own new span hashes — the
    crawl-ingest loop dedup_incremental_spans models for ONE batch,
    run for real across a stream of them.

    State lives in a parquet-backed index TABLE, not executor memory:
    each batch does one distributed join against the index and one
    anti-join write of its new hashes as its own index epoch — zero
    driver-side data traffic, and the index survives restarts AND
    re-executions, as the dup-count join reads only the epochs before
    the batch's own (in production the index is the snapshot-layer
    table with its bucketing on h). Batch boundaries ARE semantics
    here (dup-vs-prior depends on arrival order), so the oracle
    derives the same doc_id-ordered batch assignment with NTILE —
    exact, because slice order is stamped deterministically.
    """
    replay_dir = write_doc_replay(spark, sf_dir, n_slices=4)
    index_dir = scratch_dir("kf_span_idx_")

    def ingest_batch(batch_df: DataFrame, epoch: int) -> DataFrame:
        batch_id = epoch + 1  # one slice per trigger, mtime-ordered
        aug = batch_df.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(SPAN_BOILERPLATE + " "), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        toks = aug.select(
            "doc_id",
            F.split("text", " ").alias("t"),
            F.size(F.split("text", " ")).alias("n"),
        )
        anch = _anchored_spans(toks)
        prior = read_epochs(spark, index_dir, "h long", before=epoch)
        write_epoch(
            index_dir,
            epoch,
            anch.select("h").distinct().join(prior, "h", "left_anti"),
        )
        idx = prior.distinct().withColumn("in_idx", F.lit(1))
        hit = F.when(F.col("in_idx").isNotNull(), 1).otherwise(0)
        per_doc = (
            anch.join(idx, "h", "left")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_spans"),
                F.sum(hit).cast("long").alias("n_dup_vs_prior"),
            )
        )
        return toks.select("doc_id").join(per_doc, "doc_id", "left").select(
            "doc_id",
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_vs_prior", F.lit(0))
            .cast("long")
            .alias("n_dup_vs_prior"),
            (F.coalesce("n_dup_vs_prior", F.lit(0)) == 0)
            .cast("int")
            .alias("novel"),
        )

    return run_epochs(
        read_replay(spark, replay_dir, DOCS_RAW_SCHEMA), ingest_batch
    )


# --- text_decontaminate_redact -----------------------------------------------


@register(
    "text_decontaminate_redact",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t,
             LEN(STRING_SPLIT(text, ' ')) AS n, text FROM documents
    ), grams AS (
      SELECT doc_id, i - 1 AS gpos,
             ARRAY_TO_STRING(t[i : i + {ATTR_WIDTH - 1}], ' ') AS g
      FROM toks, UNNEST(RANGE(1, LEN(t) - {ATTR_WIDTH - 2})) AS r(i)
      WHERE n >= {ATTR_WIDTH}
    ), probe AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT gr.doc_id, gr.gpos FROM grams gr JOIN probe p USING (g)
      WHERE gr.doc_id % 97 <> 0
    ), rem AS (
      SELECT DISTINCT doc_id, gpos + i AS pos
      FROM hits, UNNEST(RANGE(0, {ATTR_WIDTH})) AS u(i)
    ), words AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS word
      FROM toks, UNNEST(RANGE(1, n + 1)) AS r(i)
    ), kept AS (
      SELECT w.doc_id, STRING_AGG(w.word, ' ' ORDER BY w.pos) AS clean_text,
             COUNT(*) AS n_kept
      FROM words w LEFT JOIN rem r ON w.doc_id = r.doc_id AND w.pos = r.pos
      WHERE r.pos IS NULL GROUP BY w.doc_id
    )
    SELECT t.doc_id,
           COALESCE(k.clean_text, '') AS clean_text,
           CAST(t.n - COALESCE(k.n_kept, 0) AS BIGINT) AS n_tokens_removed,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_tokens_kept
    FROM toks t LEFT JOIN kept k USING (doc_id)
    WHERE t.doc_id % 97 <> 0
    """,
)
def text_decontaminate_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL decontamination: instead of dropping a contaminated
    document wholesale (text_decontaminate_probes' flag), remove only
    the tokens covered by a probe-matching n-gram and keep the rest —
    the softer policy pipelines apply when contamination is a quoted
    snippet inside an otherwise-good document. Probe docs themselves
    are excluded from the output (they ARE the eval set). Runs at
    ATTR_WIDTH (the sensitive triage width, deliberately tighter than
    the drop gate) so partial overlaps are caught and excised.

    Scale: positional n-grams (explode, map-side) join the probe gram
    set (eval-set-sized, AQE-broadcast at runtime — same no-hint
    rationale as the gate), matched positions explode to a token
    removal set, and the rewrite is the same anti-join + ordered
    collect as dedup_substring_remove — all doc_id-keyed shuffles
    bounded by document length. One corpus scan feeds both the gram
    and word streams.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = fan_out(spark, docs).select(
        "doc_id",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).alias("n"),
    )
    grams = (
        toks.filter(F.col("n") >= ATTR_WIDTH)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(0), F.col("n") - ATTR_WIDTH)
            ).alias("gpos"),
        )
        .select(
            "doc_id",
            "gpos",
            F.concat_ws(
                " ", F.slice("t", F.col("gpos") + 1, ATTR_WIDTH)
            ).alias("g"),
        )
    )
    probe = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    rem = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(probe, "g")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + ATTR_WIDTH - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    words = toks.select("doc_id", F.posexplode("t").alias("pos", "word"))
    kept = (
        words.join(rem, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s.word,
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        toks.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", "n")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
        )
    )
