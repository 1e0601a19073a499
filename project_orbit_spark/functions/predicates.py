"""Predicate bank — SURVEY.md §2.2 F3-F12: validation filters the
reference applies before persisting extracted entities.

Each predicate is a reusable Column helper (composable into any
silver-layer pipeline) plus a registered gauntlet query that runs the
full filter set over a candidate pool with deterministically injected
bad rows — so both accept and reject paths are oracle-verified.
All pure SQL expressions; Catalyst reorders them freely (SURVEY §4:
keep them ahead of any pandas_udf stage, which Catalyst treats as
opaque).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from project_orbit_spark.catalog import constant_table, load
from project_orbit_spark.registry import register

# F3 placeholder names (ref src/structured_extraction_v2.py:112-144)
PLACEHOLDER_NAMES = ("john doe", "jane doe", "jane smith", "test user", "lorem ipsum")
# F5 role words that disqualify a "full name" (ref :193-205)
ROLE_WORDS_PATTERN = r"(?i)\b(ceo|cto|cfo|founder|director|manager)\b"
# F4 website sections that are not products (ref :147-190)
SITE_SECTIONS = ("about us", "contact", "privacy policy", "terms of service", "careers", "blog")
# F9 URL skip-list substrings (ref src/scraper_v2.py:1391-1423)
URL_SKIP_PATTERNS = ("/login", "/signup", "/privacy", "/terms", "/cookie", "utm_", "mailto:", "#")
# F10 page-error phrases (ref src/scraper_v2.py:1093-1129)
ERROR_PHRASES = ("404", "not found", "access denied", "error")


def is_placeholder_name(name: Column) -> Column:
    """F3: 'john doe'-style placeholder rejection (set + prefix regex)."""
    return F.lower(name).isin(*PLACEHOLDER_NAMES) | F.lower(name).rlike(
        r"^(test |sample |example )"
    )


def is_full_name(name: Column) -> Column:
    """F5: require a space, reject role words."""
    return name.contains(" ") & ~name.rlike(ROLE_WORDS_PATTERN)


def is_site_section(name: Column) -> Column:
    """F4: reject fake 'products' that are site sections."""
    return F.lower(name).isin(*SITE_SECTIONS)


def url_skip(url: Column) -> Column:
    """F9: low-value URL pruning by substring patterns."""
    return F.exists(
        F.array(*[F.lit(p) for p in URL_SKIP_PATTERNS]),
        lambda p: F.lower(url).contains(p),
    )


def page_error(text: Column) -> Column:
    """F10: short content containing an error phrase."""
    hit = F.exists(
        F.array(*[F.lit(p) for p in ERROR_PHRASES]), lambda p: F.lower(text).contains(p)
    )
    return hit & (F.length(text) < 120)


@register(
    "entity_name_gauntlet",
    tags=("filter", "predicates"),
    doc="F3/F4/F5 name-validation gauntlet (ref src/structured_"
    "extraction_v2.py:112-205): customer names + injected "
    "placeholders/sections/role-titles classified accept-or-reject "
    "with the first failing rule as the reason.",
    oracle="""
        WITH candidates AS (
          SELECT c_name AS name FROM customer WHERE c_custkey % 10 = 0
          UNION ALL
          SELECT * FROM (VALUES ('John Doe'), ('Jane Smith'), ('Test User'),
            ('About Us'), ('Privacy Policy'), ('CEO John Smith'),
            ('Madonna'), ('Sample Person'), ('Ada Lovelace')) AS t(name)
        )
        SELECT name,
               CASE
                 WHEN lower(name) IN ('john doe','jane doe','jane smith','test user',
                                      'lorem ipsum')
                   OR regexp_matches(lower(name), '^(test |sample |example )')
                   THEN 'placeholder'
                 WHEN lower(name) IN ('about us','contact','privacy policy',
                                      'terms of service','careers','blog')
                   THEN 'site_section'
                 WHEN NOT contains(name, ' ')
                   OR regexp_matches(name, '(?i)\\b(ceo|cto|cfo|founder|director|manager)\\b')
                   THEN 'not_full_name'
                 ELSE 'accept'
               END AS verdict
        FROM candidates
        ORDER BY name
    """,
)
def entity_name_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_name").alias("name")
    )
    injected = constant_table(
        spark,
        [
            ("John Doe",), ("Jane Smith",), ("Test User",), ("About Us",),
            ("Privacy Policy",), ("CEO John Smith",), ("Madonna",),
            ("Sample Person",), ("Ada Lovelace",),
        ],
        "name string",
    )
    cand = c.unionByName(injected)
    name = F.col("name")
    verdict = (
        F.when(is_placeholder_name(name), "placeholder")
        .when(is_site_section(name), "site_section")
        .when(~is_full_name(name), "not_full_name")
        .otherwise("accept")
    )
    return cand.select("name", verdict.alias("verdict")).orderBy("name")


@register(
    "url_skiplist_pruning",
    tags=("filter", "predicates"),
    doc="F9 URL skip-list pruning (ref src/scraper_v2.py:1391-1423) — "
    "the reference's 'partition pruning' analog: crawl frontier URLs "
    "minus ~8 low-value patterns, with the matched pattern recorded "
    "for pruned rows.",
    oracle="""
        WITH frontier AS (
          SELECT c_custkey,
                 'https://site' || CAST(c_custkey % 50 AS VARCHAR) || '.com' ||
                 ['/products', '/login', '/blog/entry?utm_source=x', '/docs',
                  '/privacy', '/pricing', '/terms', '/team'][(c_custkey % 8 + 1)::INT]
                   AS url
          FROM customer
        )
        SELECT c_custkey, url,
               CAST(
                 len([p for p in ['/login','/signup','/privacy','/terms','/cookie',
                                  'utm_','mailto:','#']
                      IF contains(lower(url), p)]) > 0 AS BIGINT) AS pruned
        FROM frontier
        ORDER BY c_custkey
    """,
)
def url_skiplist_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://site"),
        (F.col("c_custkey") % 50).cast("string"),
        F.lit(".com"),
        F.element_at(
            F.array(
                F.lit("/products"), F.lit("/login"), F.lit("/blog/entry?utm_source=x"),
                F.lit("/docs"), F.lit("/privacy"), F.lit("/pricing"), F.lit("/terms"),
                F.lit("/team"),
            ),
            (F.col("c_custkey") % 8 + 1).cast("int"),
        ),
    )
    frontier = c.select("c_custkey", url.alias("url"))
    return frontier.select(
        "c_custkey", "url", url_skip(F.col("url")).cast("long").alias("pruned")
    ).orderBy("c_custkey")


@register(
    "page_error_quarantine",
    tags=("filter", "quarantine"),
    doc="F10 page-error predicate + ST5 quarantine routing (ref "
    "src/scraper_v2.py:1093-1129, 3880-3888): short docs containing "
    "an error phrase are quarantined; the rest pass. Emits the "
    "routing decision per doc (dead-letter pattern).",
    oracle="""
        SELECT doc_id, n_chars,
               CASE WHEN len([p for p in ['404','not found','access denied','error']
                             IF contains(lower(text), p)]) > 0
                         AND length(text) < 120
                    THEN 'quarantine' ELSE 'pass' END AS route
        FROM documents
        ORDER BY doc_id
    """,
)
def page_error_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "n_chars",
        F.when(page_error(F.col("text")), "quarantine").otherwise("pass").alias("route"),
    ).orderBy("doc_id")


@register(
    "category_array_cleaning",
    tags=("filter", "arrays"),
    doc="F8 geo/category cleaners (ref src/structured_extraction_v2."
    "py:1758-1875; src/scraper_v2.py:2794-2831): split part types "
    "into category tokens, drop marketing prefixes ('find ', 'see ') "
    "and overlong entries, dedupe preserving first occurrence.",
    oracle="""
        WITH raw AS (
          SELECT p_partkey,
                 list_concat(string_split(lower(p_type), ' '),
                             ['find deals', 'see more', lower(p_brand)]) AS cats
          FROM part WHERE p_partkey % 20 = 0
        )
        SELECT p_partkey,
               array_to_string(
                 list_sort(list_distinct(
                   list_filter(cats,
                     c -> NOT (starts_with(c, 'find ') OR starts_with(c, 'see ')
                               OR length(c) > 50 OR length(c) = 0)))), ',')
                 AS clean_categories
        FROM raw
        ORDER BY p_partkey
    """,
)
def category_array_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 20 == 0)
    cats = F.concat(
        F.split(F.lower("p_type"), " "),
        F.array(F.lit("find deals"), F.lit("see more"), F.lower("p_brand")),
    )
    cleaned = F.array_sort(
        F.array_distinct(
            F.filter(
                cats,
                lambda c: ~(
                    c.startswith("find ")
                    | c.startswith("see ")
                    | (F.length(c) > 50)
                    | (F.length(c) == 0)
                ),
            )
        )
    )
    return p.select(
        "p_partkey", F.array_join(cleaned, ",").alias("clean_categories")
    ).orderBy("p_partkey")


@register(
    "silver_typed_quarantine",
    tags=("silver", "quarantine", "validation"),
    doc="Silver-layer typed validation with skip-row-keep-batch "
    "semantics (ref src/structured_extraction_v2.py:2300-2302: a "
    "row-level ValidationError drops the row, the batch continues): "
    "a dirty entity feed (deterministically derived from documents) "
    "is validated against the typed Event contract — required name, "
    "parseable non-placeholder date (F6), nullable-but-parseable "
    "amount — valid rows emerge typed, invalid rows stay quarantined "
    "with their first failing rule. try_cast keeps the plan "
    "whole-stage-codegen JVM-side; at 100 TB this is one map-only "
    "pass, no shuffle.",
    oracle="""
        WITH dirty AS (
          SELECT doc_id AS entity_id,
                 CASE WHEN doc_id % 13 = 0 THEN ''
                      ELSE 'company-' || doc_id::VARCHAR END AS raw_name,
                 CASE WHEN doc_id % 7 = 0 THEN 'N/A'
                      WHEN doc_id % 17 = 0 THEN '12,5x'
                      ELSE (n_chars * 1000)::VARCHAR END AS raw_amount,
                 CASE WHEN doc_id % 11 = 0 THEN '1970-01-01'
                      WHEN doc_id % 19 = 0 THEN '2024-13-45'
                      ELSE '2024-01-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0')
                      END AS raw_date
          FROM documents
        ),
        checked AS (
          SELECT entity_id, raw_name, raw_amount, raw_date,
                 length(raw_name) >= 2 AS name_ok,
                 (raw_amount = 'N/A' OR try_cast(raw_amount AS DOUBLE) IS NOT NULL)
                   AS amount_ok,
                 (try_cast(raw_date AS DATE) IS NOT NULL AND raw_date != '1970-01-01')
                   AS date_ok
          FROM dirty
        )
        SELECT entity_id,
               CASE WHEN NOT name_ok THEN 'missing_name'
                    WHEN NOT amount_ok THEN 'bad_amount'
                    WHEN NOT date_ok THEN 'bad_date'
                    ELSE 'ok' END AS status,
               CASE WHEN name_ok AND amount_ok AND date_ok THEN raw_name END AS name,
               CASE WHEN name_ok AND amount_ok AND date_ok AND raw_amount != 'N/A'
                    THEN round(try_cast(raw_amount AS DOUBLE), 2) END AS amount_usd,
               CASE WHEN name_ok AND amount_ok AND date_ok THEN raw_date END
                 AS occurred_on,
               CAST(CASE WHEN name_ok AND amount_ok AND date_ok THEN 1 ELSE 0 END
                 AS BIGINT) AS is_valid
        FROM checked
        ORDER BY entity_id
    """,
)
def silver_typed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    dirty = d.select(
        F.col("doc_id").alias("entity_id"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("company-"), F.col("doc_id").cast("string")))
        .alias("raw_name"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("N/A"))
        .when(F.col("doc_id") % 17 == 0, F.lit("12,5x"))
        .otherwise((F.col("n_chars") * 1000).cast("string"))
        .alias("raw_amount"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("1970-01-01"))
        .when(F.col("doc_id") % 19 == 0, F.lit("2024-13-45"))
        .otherwise(
            F.concat(
                F.lit("2024-01-"), F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0")
            )
        )
        .alias("raw_date"),
    )
    checked = dirty.select(
        "entity_id",
        "raw_name",
        "raw_amount",
        "raw_date",
        (F.length("raw_name") >= 2).alias("name_ok"),
        (
            (F.col("raw_amount") == "N/A")
            | F.expr("try_cast(raw_amount AS DOUBLE)").isNotNull()
        ).alias("amount_ok"),
        (
            F.expr("try_cast(raw_date AS DATE)").isNotNull()
            & (F.col("raw_date") != "1970-01-01")
        ).alias("date_ok"),
    )
    all_ok = F.col("name_ok") & F.col("amount_ok") & F.col("date_ok")
    return checked.select(
        "entity_id",
        F.when(~F.col("name_ok"), "missing_name")
        .when(~F.col("amount_ok"), "bad_amount")
        .when(~F.col("date_ok"), "bad_date")
        .otherwise("ok")
        .alias("status"),
        F.when(all_ok, F.col("raw_name")).alias("name"),
        F.when(
            all_ok & (F.col("raw_amount") != "N/A"),
            F.round(F.expr("try_cast(raw_amount AS DOUBLE)"), 2),
        ).alias("amount_usd"),
        F.when(all_ok, F.col("raw_date")).alias("occurred_on"),
        all_ok.cast("long").alias("is_valid"),
    ).orderBy("entity_id")
