"""Web-corpus URL canonicalization — round-8 curation extension.

Every web-scale corpus pipeline (C4, RefinedWeb, Common Crawl
processing) dedups and joins on a CANONICAL url, not the raw crawl
string: scheme/host case, default ports, fragments, tracking
parameters, and trailing slashes all vary freely across crawls of the
same resource [PK: C4/RefinedWeb processing descriptions; RFC 3986
normalization rules]. ``text_url_normalize`` implements the standard
rule set as pure codegen string expressions — zero shuffles, zero
Python, the canonical key streams out of the scan at any corpus size
and feeds straight into the existing dedup_exact hash-groupBy.

The fixture's documents table has no URL column, so (same pattern as
``text_unicode_normalize``'s decomposed code points) each row builds a
deterministically messy URL from its own columns — uppercase scheme
and host, www. prefix, a default or non-default port, an optional
trailing slash, shuffled utm_* tracking params, and a fragment — and
the op must normalize it:

* scheme and host lowercased, ``www.`` stripped;
* default ports dropped (``:80`` for http, ``:443`` for https) but
  non-default ports kept — including ``:80`` on https;
* trailing slashes stripped from the path (root stays ``/``);
* ``utm_*`` params removed, the rest sorted by byte order;
* the fragment dropped.

The DuckDB oracle rebuilds the identical rules with list lambdas, so
every branch of the port/slash/param logic is hash-checked for real.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import load_table, scratch_dir


def with_norm_url(df: DataFrame) -> DataFrame:
    """Append ``norm_url`` to a frame carrying ``raw_url`` — the full
    canonicalization rule set as pure codegen expressions (shared by
    text_url_normalize and dedup_url_variants; the DuckDB oracles
    spell the identical rules)."""
    df = df.withColumn(
        "_scheme", F.lower(F.regexp_extract("raw_url", r"^([A-Za-z]+)://", 1))
    ).withColumn(
        "_auth",
        F.split(
            F.regexp_extract("raw_url", r"^[A-Za-z]+://([^/?#]*)", 1), ":"
        ),
    )
    host = F.regexp_replace(
        F.lower(F.element_at("_auth", 1)), r"^www\.", ""
    )
    port_raw = F.when(F.size("_auth") < 2, F.lit("")).otherwise(
        F.element_at("_auth", 2)
    )
    port = (
        F.when(port_raw == "", F.lit(""))
        .when((F.col("_scheme") == "http") & (port_raw == "80"), F.lit(""))
        .when((F.col("_scheme") == "https") & (port_raw == "443"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), port_raw))
    )
    rawpath = F.regexp_extract("raw_url", r"^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    stripped = F.regexp_replace(rawpath, r"/+$", "")
    npath = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    nquery = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract("raw_url", r"\?([^#]*)", 1), "&"),
                lambda x: ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    norm_url = F.concat(
        F.col("_scheme"),
        F.lit("://"),
        host,
        port,
        npath,
        F.when(nquery == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), nquery)
        ),
    )
    return df.withColumn("norm_url", norm_url).drop("_scheme", "_auth")


@register(
    "text_url_normalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        || '://WWW.Cdn-' || source || '.Example.COM'
        || (CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
            ELSE ':8080' END)
        || '/Docs/' || lang || '/' || doc_id
        || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        || '?utm_source=feed&z=' || (doc_id % 7) || '&utm_campaign=news&a='
        || (doc_id % 5) || '&lang=' || lang
        || '#Section-' || (doc_id % 9) AS raw_url
      FROM documents
    ), parts AS (
      SELECT doc_id, raw_url,
        lower(regexp_extract(raw_url, '^([A-Za-z]+)://', 1)) AS scheme,
        regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]*)', 1) AS authority,
        regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS rawpath,
        regexp_extract(raw_url, '\\?([^#]*)', 1) AS rawquery
      FROM raw
    ), norm AS (
      SELECT doc_id, raw_url, scheme,
        regexp_replace(lower(string_split(authority, ':')[1]),
                       '^www\\.', '') AS host,
        CASE WHEN len(string_split(authority, ':')) < 2 THEN ''
             WHEN string_split(authority, ':')[2] = '' THEN ''
             WHEN scheme = 'http'
                  AND string_split(authority, ':')[2] = '80' THEN ''
             WHEN scheme = 'https'
                  AND string_split(authority, ':')[2] = '443' THEN ''
             ELSE ':' || string_split(authority, ':')[2] END AS port,
        CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
             ELSE regexp_replace(rawpath, '/+$', '') END AS npath,
        array_to_string(list_sort(list_filter(string_split(rawquery, '&'),
            x -> NOT starts_with(x, 'utm_'))), '&') AS nquery
      FROM parts
    )
    SELECT doc_id, raw_url,
           scheme || '://' || host || port || npath
             || CASE WHEN nquery = '' THEN '' ELSE '?' || nquery END
             AS norm_url,
           md5(scheme || '://' || host || port || npath
             || CASE WHEN nquery = '' THEN '' ELSE '?' || nquery END)
             AS url_key
    FROM norm
    """,
)
def text_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RFC-3986-style canonicalization, all inside whole-stage codegen:
    # one projection, no shuffle, no Python. url_key = md5(norm_url)
    # is the join/dedup key a crawl pipeline would groupBy on.
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw_url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://WWW.Cdn-"),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(did % 3 == 0, F.lit(":80"))
        .when(did % 3 == 1, F.lit(":443"))
        .otherwise(F.lit(":8080")),
        F.lit("/Docs/"),
        F.col("lang"),
        F.lit("/"),
        did.cast("string"),
        F.when(did % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&z="),
        (did % 7).cast("string"),
        F.lit("&utm_campaign=news&a="),
        (did % 5).cast("string"),
        F.lit("&lang="),
        F.col("lang"),
        F.lit("#Section-"),
        (did % 9).cast("string"),
    )
    with_raw = docs.select("doc_id", raw_url.alias("raw_url"))
    return with_norm_url(with_raw).select(
        "doc_id",
        "raw_url",
        "norm_url",
        F.md5("norm_url").alias("url_key"),
    )


def _crawl_variant_a(rid):
    """Crawl variant A of resource ``rid`` — shared by
    dedup_url_variants and dedup_incremental_url so their URL mess
    can't drift apart (the oracles hard-code the same construction)."""
    port = (
        F.when(rid % 3 == 0, F.lit(":80"))
        .when(rid % 3 == 1, F.lit(":443"))
        .otherwise(F.lit(":8080"))
    )
    return F.concat(
        F.when(rid % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://WWW.Cdn-r"),
        rid.cast("string"),
        F.lit(".Example.COM"),
        port,
        F.lit("/Docs/r/"),
        rid.cast("string"),
        F.when(rid % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&z="),
        (rid % 7).cast("string"),
        F.lit("&utm_campaign=news&a="),
        (rid % 5).cast("string"),
        F.lit("#Top"),
    )



#: the normalization CTE for oracles over a `raws(doc_id, raw_url)`
#: input — yields `norm(doc_id, raw_url, norm_url)` with rules
#: identical to :func:`with_norm_url`. text_url_normalize's oracle
#: predates it and spells the same rules inline (kept verbatim so the
#: adjudicated query text stays stable); new URL oracles compose this.
_ORACLE_NORM_CTE = """
    parts AS (
      SELECT doc_id, raw_url,
        lower(regexp_extract(raw_url, '^([A-Za-z]+)://', 1)) AS scheme,
        regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]*)', 1) AS authority,
        regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS rawpath,
        regexp_extract(raw_url, '\\?([^#]*)', 1) AS rawquery
      FROM raws
    ), norm AS (
      SELECT doc_id, raw_url,
        scheme || '://'
        || regexp_replace(lower(string_split(authority, ':')[1]),
                          '^www\\.', '')
        || CASE WHEN len(string_split(authority, ':')) < 2 THEN ''
                WHEN string_split(authority, ':')[2] = '' THEN ''
                WHEN scheme = 'http'
                     AND string_split(authority, ':')[2] = '80' THEN ''
                WHEN scheme = 'https'
                     AND string_split(authority, ':')[2] = '443' THEN ''
                ELSE ':' || string_split(authority, ':')[2] END
        || CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
                ELSE regexp_replace(rawpath, '/+$', '') END
        || CASE WHEN array_to_string(list_sort(list_filter(
                     string_split(rawquery, '&'),
                     x -> NOT starts_with(x, 'utm_'))), '&') = '' THEN ''
                ELSE '?' || array_to_string(list_sort(list_filter(
                     string_split(rawquery, '&'),
                     x -> NOT starts_with(x, 'utm_'))), '&') END AS norm_url
      FROM parts
    )
"""


@register(
    "dedup_url_variants",
    oracle="""
    WITH base AS (
      SELECT doc_id, doc_id % 400 AS rid FROM documents
    ), raws AS (
      SELECT doc_id,
        (CASE WHEN rid % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        || '://WWW.Cdn-r' || rid || '.Example.COM'
        || (CASE rid % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
            ELSE ':8080' END)
        || '/Docs/r/' || rid
        || (CASE WHEN rid % 4 = 0 THEN '/' ELSE '' END)
        || '?utm_source=feed&z=' || (rid % 7) || '&utm_campaign=news&a='
        || (rid % 5) || '#Top' AS raw_url
      FROM base
      UNION ALL
      SELECT doc_id,
        (CASE WHEN rid % 2 = 0 THEN 'http' ELSE 'HTTPS' END)
        || '://CDN-R' || rid || '.EXAMPLE.COM'
        || (CASE rid % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
            ELSE ':8080' END)
        || '/Docs/r/' || rid
        || (CASE WHEN rid % 4 = 2 THEN '/' ELSE '' END)
        || '?a=' || (rid % 5) || '&utm_medium=social&z=' || (rid % 7)
        || '#Bottom-' || (rid % 3) AS raw_url
      FROM base
    ), """
    + _ORACLE_NORM_CTE.strip()
    + """
    SELECT norm_url, md5(norm_url) AS url_key,
           COUNT(*) AS n_variants,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS first_seen_doc
    FROM norm GROUP BY norm_url
    """,
)
def dedup_url_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The crawl-dedup use case end-to-end: every document is crawled
    # twice with cosmetically different URLs (case, www., query
    # order, utm params, trailing slash, fragment), and documents
    # sharing a resource id collide across doc_ids too — group by the
    # CANONICAL key and the variants collapse. Explode + normalize is
    # map-side; the only shuffle is the final hash groupBy on
    # norm_url: exactly dedup_exact's shape, which is the point — the
    # canonicalization makes crawl dedup a plain exact dedup.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 400).alias("rid")
    )
    rid = F.col("rid")
    port = (
        F.when(rid % 3 == 0, F.lit(":80"))
        .when(rid % 3 == 1, F.lit(":443"))
        .otherwise(F.lit(":8080"))
    )
    variant_a = _crawl_variant_a(rid)
    variant_b = F.concat(
        F.when(rid % 2 == 0, F.lit("http")).otherwise(F.lit("HTTPS")),
        F.lit("://CDN-R"),
        rid.cast("string"),
        F.lit(".EXAMPLE.COM"),
        port,
        F.lit("/Docs/r/"),
        rid.cast("string"),
        F.when(rid % 4 == 2, F.lit("/")).otherwise(F.lit("")),
        F.lit("?a="),
        (rid % 5).cast("string"),
        F.lit("&utm_medium=social&z="),
        (rid % 7).cast("string"),
        F.lit("#Bottom-"),
        (rid % 3).cast("string"),
    )
    raws = docs.select(
        "doc_id",
        F.explode(F.array(variant_a, variant_b)).alias("raw_url"),
    )
    return (
        with_norm_url(raws)
        .groupBy("norm_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_seen_doc"),
        )
        .select(
            "norm_url",
            F.md5("norm_url").alias("url_key"),
            "n_variants",
            "n_docs",
            "first_seen_doc",
        )
    )


@register(
    "dedup_incremental_url", executes_on_build=True,
    oracle="""
    WITH base AS (
      SELECT doc_id, doc_id % 400 AS rid,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
               % 100 AS b
      FROM documents
    ), raws AS (
      SELECT doc_id,
        (CASE WHEN rid % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        || '://WWW.Cdn-r' || rid || '.Example.COM'
        || (CASE rid % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
            ELSE ':8080' END)
        || '/Docs/r/' || rid
        || (CASE WHEN rid % 4 = 0 THEN '/' ELSE '' END)
        || '?utm_source=feed&z=' || (rid % 7) || '&utm_campaign=news&a='
        || (rid % 5) || '#Top' AS raw_url
      FROM base
    ), """
    + _ORACLE_NORM_CTE.strip()
    + """
    , keyed AS (
      SELECT n.doc_id, md5(n.norm_url) AS url_key, b.b
      FROM norm n JOIN base b USING (doc_id)
    ), idx AS (
      SELECT DISTINCT url_key FROM keyed WHERE b < 80
    ), delta AS (
      SELECT doc_id, url_key FROM keyed WHERE b >= 80
    ), ranked AS (
      SELECT doc_id, url_key,
             row_number() OVER (PARTITION BY url_key ORDER BY doc_id) AS rn
      FROM delta
    )
    SELECT r.doc_id, r.url_key,
           (r.url_key IN (SELECT url_key FROM idx)) AS in_index,
           CAST(r.rn AS INT) AS delta_rank,
           (r.url_key NOT IN (SELECT url_key FROM idx) AND r.rn = 1) AS keep
    FROM ranked r
    """,
)
def dedup_incremental_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup: a new ingest batch checks its
    CANONICAL keys against a persisted url_key index, never against
    the historical corpus text — the URL-family twin of
    dedup_incremental_minhash, and the reason canonicalization pays
    at 100 TB: the index is 16 bytes/resource, appended per batch,
    and each ingest costs O(|delta| + hits), not a corpus rescan.
    Same split convention (md5(doc_id) bucket < 80 = already
    indexed), and the index round-trips through parquet because the
    index IS storage, not lineage. A delta doc survives iff its key
    is absent from the index AND it is the first delta holder of
    that key (min doc_id — the deterministic winner rule)."""
    import os

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 400).alias("rid")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    keyed = with_norm_url(
        docs.select(
            "doc_id",
            bucket.alias("b"),
            _crawl_variant_a(F.col("rid")).alias("raw_url"),
        )
    ).select("doc_id", "b", F.md5("norm_url").alias("url_key"))

    idx_dir = os.path.join(scratch_dir("kf_urlidx_"), "url_index")
    keyed.filter(F.col("b") < 80).select("url_key").distinct().write.mode(
        "overwrite"
    ).parquet(idx_dir)
    idx = spark.read.parquet(idx_dir).withColumn("in_index", F.lit(True))

    delta = keyed.filter(F.col("b") >= 80).select("doc_id", "url_key")
    w = Window.partitionBy("url_key").orderBy("doc_id")
    ranked = delta.withColumn("delta_rank", F.row_number().over(w))
    return ranked.join(idx, "url_key", "left").select(
        "doc_id",
        "url_key",
        F.coalesce("in_index", F.lit(False)).alias("in_index"),
        "delta_rank",
        (
            ~F.coalesce("in_index", F.lit(False))
            & (F.col("delta_rank") == 1)
        ).alias("keep"),
    )
