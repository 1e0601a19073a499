"""Regex extraction bank — SURVEY.md §2.7 C3-C12, C17.

The reference mines funding amounts, round names, valuations,
investors, founded years, and headcounts out of free text with a
regex bank (src/scraper_v2.py:2536-2786; src/structured_extraction_
v2.py:351-661, 2191-2252), parses dates through a format cascade
(:2095-2163), and scans press-release blobs with a stateful line
parser (:1220-1255).

The fixture corpus has no money/date strings, so a deterministic
press-release corpus is derived from orders⋈customer (same derivation
in the oracle) — the extractors then have to *recover* the planted
facts, which makes the round-trip a real test of the regex bank.
All pure Spark SQL: codegen-eligible, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_orbit_spark.catalog import constant_table, load
from project_orbit_spark.registry import register

ROUND_NAMES = ("Seed", "Series A", "Series B", "Series C")
INVESTORS = ("Alpha Capital", "Beta Ventures", "Gamma Partners", "Delta Fund", "Epsilon Labs")

# Known-investor lexicon for the J6 substring semi-join (a strict
# subset of the planted investors, so the join is selective).
KNOWN_INVESTORS = ("Alpha Capital", "Gamma Partners", "Epsilon Labs")


def press_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic press-release sentences derived from orders ⋈
    customer (1-in-50 orders). Plants: $amount M, round name, lead
    investor, headcount, founded year, valuation, and a date in one
    of three formats (exercising the C10 parse cascade)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    c = load(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    amount = F.round(F.col("o_totalprice") / 1000, 1).cast("string")
    round_name = F.element_at(
        F.array(*[F.lit(r) for r in ROUND_NAMES]), (F.col("o_orderkey") % 4 + 1).cast("int")
    )
    investor = F.element_at(
        F.array(*[F.lit(i) for i in INVESTORS]), (F.col("o_orderkey") % 5 + 1).cast("int")
    )
    headcount = (F.col("o_custkey") % 950 + 50).cast("string")
    founded = (F.col("o_custkey") % 24 + 2000).cast("string")
    valuation = F.round(F.col("o_totalprice") / 100000, 2).cast("string")
    date_str = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "MMMM d, yyyy"))
        .otherwise(F.date_format("o_orderdate", "MM/dd/yyyy"))
    )
    text = F.concat(
        F.col("c_name"), F.lit(" raised $"), amount, F.lit("M in "), round_name,
        F.lit(" funding on "), date_str, F.lit(". The round was led by "), investor,
        F.lit(". The company has "), headcount,
        F.lit(" employees and was founded in "), founded,
        F.lit(". It is valued at $"), valuation, F.lit(" billion."),
    )
    return j.select(
        F.col("o_orderkey").alias("press_id"),
        F.col("o_custkey").alias("custkey"),
        text.alias("press_text"),
    )


# Shared DuckDB derivation of the same corpus (press_id, custkey, press_text).
_DUCK_PRESS = """
        press AS (
          SELECT o.o_orderkey AS press_id, o.o_custkey AS custkey,
                 c.c_name || ' raised $' || CAST(round(o.o_totalprice / 1000, 1) AS VARCHAR)
                 || 'M in '
                 || ['Seed','Series A','Series B','Series C'][(o.o_orderkey % 4 + 1)::INT]
                 || ' funding on '
                 || CASE WHEN o.o_orderkey % 3 = 0 THEN strftime(o.o_orderdate, '%Y-%m-%d')
                         WHEN o.o_orderkey % 3 = 1 THEN strftime(o.o_orderdate, '%B %-d, %Y')
                         ELSE strftime(o.o_orderdate, '%m/%d/%Y') END
                 || '. The round was led by '
                 || ['Alpha Capital','Beta Ventures','Gamma Partners','Delta Fund',
                     'Epsilon Labs'][(o.o_orderkey % 5 + 1)::INT]
                 || '. The company has ' || CAST(o.o_custkey % 950 + 50 AS VARCHAR)
                 || ' employees and was founded in ' || CAST(o.o_custkey % 24 + 2000 AS VARCHAR)
                 || '. It is valued at $' || CAST(round(o.o_totalprice / 100000, 2) AS VARCHAR)
                 || ' billion.' AS press_text
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE o.o_orderkey % 50 = 0
        )
"""


@register(
    "funding_sentence_extraction",
    bench=True,
    tags=("text", "regex"),
    doc="C3/C4/C5 funding-sentence regex bank (ref src/scraper_v2.py:"
    "2536-2556; src/structured_extraction_v2.py:2217-2252): recover "
    "raised-$ amount (M-multiplier), round name, and $-billion "
    "valuation from the planted press corpus.",
    oracle=f"""
        WITH {_DUCK_PRESS}
        SELECT press_id,
               round(CAST(regexp_extract(press_text,
                 'raised \\$([0-9]+(?:\\.[0-9]+)?)M', 1) AS DOUBLE) * 1e6, 2) AS raised_usd,
               regexp_extract(press_text, '(Series [A-Z]|Seed|seed)', 1) AS round_name,
               round(CAST(regexp_extract(press_text,
                 'valued at \\$([0-9]+(?:\\.[0-9]+)?) billion', 1) AS DOUBLE) * 1e9, 2)
                 AS valuation_usd
        FROM press
        ORDER BY press_id
    """,
)
def funding_sentence_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = press_corpus(spark, sf_dir)
    return p.select(
        "press_id",
        F.round(
            F.regexp_extract("press_text", r"raised \$([0-9]+(?:\.[0-9]+)?)M", 1).cast(
                "double"
            )
            * 1e6,
            2,
        ).alias("raised_usd"),
        F.regexp_extract("press_text", r"(Series [A-Z]|Seed|seed)", 1).alias("round_name"),
        F.round(
            F.regexp_extract(
                "press_text", r"valued at \$([0-9]+(?:\.[0-9]+)?) billion", 1
            ).cast("double")
            * 1e9,
            2,
        ).alias("valuation_usd"),
    ).orderBy("press_id")


@register(
    "investor_semi_join",
    tags=("join", "regex"),
    doc="C6 investor-phrase extraction + J6 known-investor substring "
    "match (ref src/structured_extraction_v2.py:2191-2211, 2172-2188): "
    "pull the led-by phrase, then keep only press rows whose investor "
    "is in the broadcast known-investor lexicon.",
    oracle=f"""
        WITH {_DUCK_PRESS},
        lex AS (SELECT * FROM (VALUES ('Alpha Capital'), ('Gamma Partners'),
                ('Epsilon Labs')) AS t(known))
        SELECT p.press_id,
               regexp_extract(p.press_text, 'led by ([A-Z][A-Za-z ]+?)\\.', 1) AS investor
        FROM press p
        WHERE EXISTS (
          SELECT 1 FROM lex
          WHERE contains(lower(p.press_text), lower(lex.known)))
        ORDER BY p.press_id
    """,
)
def investor_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = press_corpus(spark, sf_dir)
    lex = constant_table(spark, [(k,) for k in KNOWN_INVESTORS], "known string")
    matched = p.join(
        F.broadcast(lex),
        F.lower("press_text").contains(F.lower(F.col("known"))),
        "left_semi",
    )
    return matched.select(
        "press_id",
        F.regexp_extract("press_text", r"led by ([A-Z][A-Za-z ]+?)\.", 1).alias("investor"),
    ).orderBy("press_id")


@register(
    "founded_headcount_extraction",
    tags=("text", "regex"),
    doc="C7/C8 founded-year + headcount regexes with sanity ranges "
    "(ref src/structured_extraction_v2.py:351-390; src/scraper_v2.py:"
    "2653-2723): bounded 2000-2023 / 1-10000, NULL outside range.",
    oracle=f"""
        WITH {_DUCK_PRESS},
        raw AS (
          SELECT press_id,
                 CAST(regexp_extract(press_text, 'founded in ([0-9]{{4}})', 1) AS BIGINT)
                   AS founded_raw,
                 CAST(regexp_extract(press_text, '([0-9]+) employees', 1) AS BIGINT)
                   AS headcount_raw
          FROM press
        )
        SELECT press_id,
               CASE WHEN founded_raw BETWEEN 2000 AND 2023 THEN founded_raw END AS founded_year,
               CASE WHEN headcount_raw BETWEEN 1 AND 10000 THEN headcount_raw END AS headcount
        FROM raw
        ORDER BY press_id
    """,
)
def founded_headcount_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = press_corpus(spark, sf_dir)
    founded_raw = F.regexp_extract("press_text", r"founded in ([0-9]{4})", 1).cast("long")
    headcount_raw = F.regexp_extract("press_text", r"([0-9]+) employees", 1).cast("long")
    return p.select(
        "press_id",
        F.when(founded_raw.between(2000, 2023), founded_raw).alias("founded_year"),
        F.when(headcount_raw.between(1, 10000), headcount_raw).alias("headcount"),
    ).orderBy("press_id")


@register(
    "date_parse_cascade",
    tags=("text", "dates"),
    doc="C10 date-parsing cascade (ref src/structured_extraction_v2."
    "py:2095-2163): coalesce over three formats (ISO, 'Month d, yyyy', "
    "'MM/dd/yyyy') applied to the extracted date phrase; future dates "
    "rejected (reference drops placholder/future dates).",
    oracle=f"""
        WITH {_DUCK_PRESS},
        extracted AS (
          SELECT press_id,
                 regexp_extract(press_text, 'funding on (.+?)\\. The round', 1) AS date_raw
          FROM press
        )
        SELECT press_id, date_raw,
               strftime(coalesce(
                 try_strptime(date_raw, '%Y-%m-%d'),
                 try_strptime(date_raw, '%B %d, %Y'),
                 try_strptime(date_raw, '%m/%d/%Y')), '%Y-%m-%d') AS parsed_date
        FROM extracted
        WHERE coalesce(
                 try_strptime(date_raw, '%Y-%m-%d'),
                 try_strptime(date_raw, '%B %d, %Y'),
                 try_strptime(date_raw, '%m/%d/%Y')) < TIMESTAMP '2026-01-01 00:00:00'
        ORDER BY press_id
    """,
)
def date_parse_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = press_corpus(spark, sf_dir)
    date_raw = F.regexp_extract("press_text", r"funding on (.+?)\. The round", 1)
    parsed = F.coalesce(
        F.try_to_timestamp(date_raw, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(date_raw, F.lit("MMMM d, yyyy")),
        F.try_to_timestamp(date_raw, F.lit("MM/dd/yyyy")),
    )
    return (
        p.select("press_id", date_raw.alias("date_raw"), parsed.alias("_p"))
        .filter(F.col("_p") < F.lit("2026-01-01 00:00:00").cast("timestamp"))
        .select("press_id", "date_raw", F.date_format("_p", "yyyy-MM-dd").alias("parsed_date"))
        .orderBy("press_id")
    )


@register(
    "press_timeline_parser",
    tags=("text", "window"),
    doc="C11 stateful press-release line parser (ref src/structured_"
    "extraction_v2.py:1220-1255): category header lines ('# X') carry "
    "forward (last-ignorenulls window), title lines pair with the "
    "following date line (lead) — the genuinely window-requiring "
    "scalar op from SURVEY §7.5.",
    oracle=f"""
        WITH {_DUCK_PRESS},
        blobs AS (
          SELECT custkey,
                 '# FUNDING' || chr(10) ||
                 'Round closed by customer ' || CAST(custkey AS VARCHAR) || chr(10) ||
                 strftime(DATE '1995-01-01' + INTERVAL (custkey % 1000) DAY, '%B %-d, %Y')
                 || chr(10) ||
                 '# PRODUCT' || chr(10) ||
                 'Launch by customer ' || CAST(custkey AS VARCHAR) || chr(10) ||
                 strftime(DATE '1997-01-01' + INTERVAL (custkey % 800) DAY, '%B %-d, %Y')
                   AS blob
          FROM (SELECT DISTINCT custkey FROM press)
        ),
        lines AS (
          SELECT custkey, i AS line_no, l[i] AS line
          FROM (SELECT custkey, string_split(blob, chr(10)) AS l FROM blobs),
               UNNEST(range(1, 7)) AS t(i)
        ),
        tagged AS (
          SELECT custkey, line_no, line,
                 CASE WHEN line LIKE '# %' THEN substring(line, 3) END AS header,
                 lead(line) OVER (PARTITION BY custkey ORDER BY line_no) AS next_line
          FROM lines
        ),
        filled AS (
          SELECT custkey, line_no, line, next_line,
                 last_value(header IGNORE NULLS) OVER (
                   PARTITION BY custkey ORDER BY line_no
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS category
          FROM tagged
        )
        SELECT custkey, category, line AS title,
               strftime(try_strptime(next_line, '%B %d, %Y'), '%Y-%m-%d') AS event_date
        FROM filled
        WHERE line NOT LIKE '# %'
          AND try_strptime(line, '%B %d, %Y') IS NULL
          AND try_strptime(next_line, '%B %d, %Y') IS NOT NULL
        ORDER BY custkey, line_no
    """,
)
def press_timeline_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = press_corpus(spark, sf_dir).select("custkey").distinct()
    nl = F.lit("\n")
    d1 = F.date_add(F.lit("1995-01-01").cast("date"), (F.col("custkey") % 1000).cast("int"))
    d2 = F.date_add(F.lit("1997-01-01").cast("date"), (F.col("custkey") % 800).cast("int"))
    blob = F.concat(
        F.lit("# FUNDING"), nl,
        F.lit("Round closed by customer "), F.col("custkey").cast("string"), nl,
        F.date_format(d1, "MMMM d, yyyy"), nl,
        F.lit("# PRODUCT"), nl,
        F.lit("Launch by customer "), F.col("custkey").cast("string"), nl,
        F.date_format(d2, "MMMM d, yyyy"),
    )
    lines = p.select("custkey", F.posexplode(F.split(blob, "\n")).alias("idx", "line")).select(
        "custkey", (F.col("idx") + 1).alias("line_no"), "line"
    )
    w = Window.partitionBy("custkey").orderBy("line_no")
    header = F.when(F.col("line").startswith("# "), F.expr("substring(line, 3)"))
    tagged = lines.select(
        "custkey",
        "line_no",
        "line",
        header.alias("header"),
        F.lead("line").over(w).alias("next_line"),
    )
    filled = tagged.withColumn(
        "category",
        F.last("header", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    is_date = lambda c: F.try_to_timestamp(c, F.lit("MMMM d, yyyy"))
    return (
        filled.filter(
            ~F.col("line").startswith("# ")
            & is_date(F.col("line")).isNull()
            & is_date(F.col("next_line")).isNotNull()
        )
        .select(
            "custkey",
            "category",
            F.col("line").alias("title"),
            F.date_format(is_date(F.col("next_line")), "yyyy-MM-dd").alias("event_date"),
        )
        .orderBy("custkey", "line_no")
    )


@register(
    "url_normalize_classify",
    tags=("text", "url"),
    doc="C12 URL normalize/classify (ref src/structured_extraction_"
    "v2.py:217-227; src/scraper_v2.py:207-223,956-969): synthesize "
    "site URLs per customer, add https:// when missing, extract host "
    "via regex (portable, no parse_url), classify by path keyword, "
    "same-domain predicate (F12) against the seed site.",
    oracle="""
        WITH urls AS (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 2 = 0
                      THEN 'www.customer' || CAST(c_custkey % 100 AS VARCHAR) || '.com'
                      ELSE 'https://www.customer' || CAST(c_custkey % 100 AS VARCHAR)
                           || '.com' END
                 || ['/blog/post-' || CAST(c_custkey AS VARCHAR), '/careers/openings',
                     '/pricing', '/about-us'][(c_custkey % 4 + 1)::INT] AS raw_url
          FROM customer
        )
        SELECT c_custkey, raw_url,
               CASE WHEN raw_url LIKE 'http%' THEN raw_url
                    ELSE 'https://' || raw_url END AS norm_url,
               regexp_extract(
                 CASE WHEN raw_url LIKE 'http%' THEN raw_url
                      ELSE 'https://' || raw_url END,
                 '^https?://([^/]+)', 1) AS host,
               CASE WHEN contains(raw_url, '/blog/') THEN 'news'
                    WHEN contains(raw_url, '/careers') THEN 'jobs'
                    WHEN contains(raw_url, '/pricing') THEN 'pricing'
                    ELSE 'other' END AS page_type
        FROM urls
        ORDER BY c_custkey
    """,
)
def url_normalize_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    base = F.concat(
        F.lit("www.customer"), (F.col("c_custkey") % 100).cast("string"), F.lit(".com")
    )
    raw = F.concat(
        F.when(F.col("c_custkey") % 2 == 0, base).otherwise(F.concat(F.lit("https://"), base)),
        F.element_at(
            F.array(
                F.concat(F.lit("/blog/post-"), F.col("c_custkey").cast("string")),
                F.lit("/careers/openings"),
                F.lit("/pricing"),
                F.lit("/about-us"),
            ),
            (F.col("c_custkey") % 4 + 1).cast("int"),
        ),
    )
    urls = c.select("c_custkey", raw.alias("raw_url"))
    norm = F.when(F.col("raw_url").startswith("http"), F.col("raw_url")).otherwise(
        F.concat(F.lit("https://"), F.col("raw_url"))
    )
    return urls.select(
        "c_custkey",
        "raw_url",
        norm.alias("norm_url"),
        F.regexp_extract(norm, r"^https?://([^/]+)", 1).alias("host"),
        F.when(F.col("raw_url").contains("/blog/"), "news")
        .when(F.col("raw_url").contains("/careers"), "jobs")
        .when(F.col("raw_url").contains("/pricing"), "pricing")
        .otherwise("other")
        .alias("page_type"),
    ).orderBy("c_custkey")


@register(
    "coalesce_salvage_ladder",
    tags=("text", "coalesce"),
    doc="C17 text-from-JSON salvage ladder (ref src/handle_chunking."
    "py:27-112): priority coalesce across alternative fields (made "
    "sparse by modular nulling), concat-dedupe of parts, and the "
    "≥100-char acceptance gate routing rows to content vs quarantine.",
    oracle="""
        WITH sparse AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN text END AS full_text,
                 CASE WHEN doc_id % 3 = 1 THEN upper(substring(text, 1, 150)) END AS clean_text,
                 substring(text, 1, 80) AS body
          FROM documents
        )
        SELECT doc_id,
               coalesce(full_text, clean_text, body) AS salvaged,
               CASE WHEN full_text IS NOT NULL THEN 'full_text'
                    WHEN clean_text IS NOT NULL THEN 'clean_text'
                    ELSE 'body' END AS salvage_source,
               CAST(length(coalesce(full_text, clean_text, body)) >= 100 AS BIGINT)
                 AS accepted
        FROM sparse
        ORDER BY doc_id
    """,
)
def coalesce_salvage_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sparse = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.col("text")).alias("full_text"),
        F.when(F.col("doc_id") % 3 == 1, F.upper(F.substring("text", 1, 150))).alias(
            "clean_text"
        ),
        F.substring("text", 1, 80).alias("body"),
    )
    salvaged = F.coalesce("full_text", "clean_text", "body")
    return sparse.select(
        "doc_id",
        salvaged.alias("salvaged"),
        F.when(F.col("full_text").isNotNull(), "full_text")
        .when(F.col("clean_text").isNotNull(), "clean_text")
        .otherwise("body")
        .alias("salvage_source"),
        (F.length(salvaged) >= 100).cast("long").alias("accepted"),
    ).orderBy("doc_id")


@register(
    "ratings_extraction",
    tags=("text", "regex"),
    doc="C9 rating/stars regexes (ref src/scraper_v2.py:2752-2786): "
    "glassdoor-style 0-5 rating and comma-grouped star counts "
    "(comma stripped before cast), out-of-range ratings nulled.",
    oracle="""
        WITH reviews AS (
          SELECT p_partkey,
                 'Rated ' || CAST(round((p_partkey % 50) / 10.0, 1) AS VARCHAR)
                 || ' on glassdoor. The repo has '
                 || CAST(p_partkey % 90 AS VARCHAR) || ','
                 || lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0')
                 || ' stars on github.' AS review_text
          FROM part WHERE p_partkey % 10 = 0
        )
        SELECT p_partkey,
               CASE WHEN CAST(regexp_extract(review_text,
                      'Rated ([0-9]+(?:\\.[0-9]+)?) on glassdoor', 1) AS DOUBLE)
                      BETWEEN 0 AND 5
                    THEN CAST(regexp_extract(review_text,
                      'Rated ([0-9]+(?:\\.[0-9]+)?) on glassdoor', 1) AS DOUBLE)
               END AS glassdoor_rating,
               CAST(replace(regexp_extract(review_text,
                 '([0-9,]+) stars', 1), ',', '') AS BIGINT) AS github_stars
        FROM reviews
        ORDER BY p_partkey
    """,
)
def ratings_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    review = F.concat(
        F.lit("Rated "),
        F.round((F.col("p_partkey") % 50) / 10.0, 1).cast("string"),
        F.lit(" on glassdoor. The repo has "),
        (F.col("p_partkey") % 90).cast("string"),
        F.lit(","),
        F.lpad((F.col("p_partkey") % 1000).cast("string"), 3, "0"),
        F.lit(" stars on github."),
    )
    reviews = p.select("p_partkey", review.alias("review_text"))
    rating = F.regexp_extract(
        "review_text", r"Rated ([0-9]+(?:\.[0-9]+)?) on glassdoor", 1
    ).cast("double")
    stars = F.regexp_replace(
        F.regexp_extract("review_text", r"([0-9,]+) stars", 1), ",", ""
    ).cast("long")
    return reviews.select(
        "p_partkey",
        F.when(rating.between(0, 5), rating).alias("glassdoor_rating"),
        stars.alias("github_stars"),
    ).orderBy("p_partkey")
