"""Reference-parity scalar/projection/filter queries (SURVEY.md §2.2,
§2.6, §2.4-A1) re-expressed on the driver corpus.

Each query exercises the exact operator class the reference uses, on
typed test data: projection + column reorder (P1, aiesec.py:131,144),
substring predicates (P2-P4, aiesec.py:84-113), conditional flag
mapping (F5, aiesec.py:94,104-105), sentinel defaulting (F6,
aiesec.py:92-116), split/concat/trim/lower (F1-F4), string casts (F7,
aiesec.py:140-141), per-row templating (F8, aiesec.py:188-219), and
the count guard (A1, aiesec.py:133,186,236).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out_scan, load_table
from . import query

# ---------------------------------------------------------------------------
# P1 + F7 — projection, column reorder, explicit casts.
# ---------------------------------------------------------------------------

_PROJECTION_ORACLE = """
SELECT CAST(c_custkey AS VARCHAR) AS custkey_str,
       c_name,
       c_mktsegment,
       CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
FROM customer
"""


@query("projection_cast", oracle=_PROJECTION_ORACLE)
def projection_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/F7: explicit column projection + reorder + key-to-string cast.

    The reference asserts schema order twice (aiesec.py:131,144) and
    casts its join key to string (aiesec.py:140-141).  Catalyst prunes
    the parquet scan to exactly these 5 columns (ReadSchema).
    """
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").cast("string").alias("custkey_str"),
        "c_name",
        "c_mktsegment",
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        F.col("c_acctbal").cast("decimal(18,2)").cast("double").alias("acctbal"),
    )


# ---------------------------------------------------------------------------
# P2/P3/P4 + F5/F6 — containment predicates and conditional mapping.
# ---------------------------------------------------------------------------

_FILTER_FLAGS_ORACLE = """
SELECT doc_id,
       lang,
       CASE WHEN contains(text, 'spark') THEN 'Yes' ELSE 'No' END AS has_spark,
       CASE WHEN contains(lower(text), 'join') THEN 'Yes' ELSE 'No' END AS has_join,
       COALESCE(NULLIF(source, ''), 'N/A') AS source_or_na
FROM documents
WHERE contains(text, 'table')
"""


@query("filter_contains_flags", oracle=_FILTER_FLAGS_ORACLE)
def filter_contains_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2-P4/F5/F6: substring filter + case-sensitive containment flag
    + lower-cased containment + "N/A" sentinel defaulting.

    Mirrors the reference's href filter (aiesec.py:84-86), Premium
    flag (aiesec.py:94), lower-cased applicant search (aiesec.py:
    109-113), and N/A convention (aiesec.py:92-116).
    """
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("text").contains("table")).select(
        "doc_id",
        "lang",
        F.when(F.col("text").contains("spark"), "Yes").otherwise("No").alias("has_spark"),
        F.when(F.lower(F.col("text")).contains("join"), "Yes")
        .otherwise("No")
        .alias("has_join"),
        F.coalesce(F.nullif(F.col("source"), F.lit("")), F.lit("N/A")).alias(
            "source_or_na"
        ),
    )


# ---------------------------------------------------------------------------
# F1-F4 — split/take-last, concat, trim, lower.
# ---------------------------------------------------------------------------

_STRING_FUNCS_ORACLE = """
SELECT doc_id,
       'https://example.org/opportunity/' || CAST(doc_id AS VARCHAR) AS link,
       string_split('https://example.org/opportunity/' || CAST(doc_id AS VARCHAR),
                    '/')[-1] AS id_from_link,
       trim(substr(text, 1, 20)) AS head,
       lower(source) AS source_lc
FROM documents
"""


@query("string_extract_roundtrip", oracle=_STRING_FUNCS_ORACLE)
def string_extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4: build a link (concat), split it and take the last path
    segment (the reference's ID extraction, aiesec.py:88-89), plus
    trim/lower (aiesec.py:92,110).
    """
    d = load_table(spark, sf_dir, "documents")
    link = F.concat(F.lit("https://example.org/opportunity/"), F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        link.alias("link"),
        F.element_at(F.split(link, "/"), -1).alias("id_from_link"),
        F.trim(F.substring(F.col("text"), 1, 20)).alias("head"),
        F.lower(F.col("source")).alias("source_lc"),
    )


# ---------------------------------------------------------------------------
# JSON scalar extraction (events.props is a JSON string) — the typed
# side of the reference's free-text parsing (e.g. applicants "49
# applicants" → 49; here props '{"k": 69}' → 69).
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events
WHERE props IS NOT NULL
"""


@query("json_scalar_extract", oracle=_JSON_ORACLE)
def json_scalar_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON extraction + numeric cast (get_json_object stays
    JVM-side/codegen — the typed analogue of regexp-parsing the
    reference's applicant strings, SURVEY.md M2).
    """
    ev = fan_out_scan(spark, load_table(spark, sf_dir, "events"))
    return ev.filter(F.col("props").isNotNull()).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


# ---------------------------------------------------------------------------
# F8 — per-row HTML templating (the email card renderer), as a
# JVM-side format_string over every row: fully distributed, no
# iterrows, no Python UDF.
# ---------------------------------------------------------------------------

_HTML_RENDER_ORACLE = """
SELECT doc_id,
       '<div class="card"><h3>doc-' || CAST(doc_id AS VARCHAR) || '</h3>'
         || '<p>' || trim(substr(text, 1, 40)) || '</p>'
         || CASE WHEN n_chars > 300 THEN '<span class="badge">LONG</span>' ELSE '' END
         || '</div>' AS card_html
FROM documents
"""


@query("html_card_render", oracle=_HTML_RENDER_ORACLE)
def html_card_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: per-row HTML card rendering (aiesec.py:188-215) as
    format_string + conditional badge — the reference's iterrows()
    f-string loop becomes a single codegen'd projection.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.lit('<div class="card"><h3>doc-'),
            F.col("doc_id").cast("string"),
            F.lit("</h3><p>"),
            F.trim(F.substring("text", 1, 40)),
            F.lit("</p>"),
            F.when(F.col("n_chars") > 300, '<span class="badge">LONG</span>').otherwise(""),
            F.lit("</div>"),
        ).alias("card_html"),
    )


# ---------------------------------------------------------------------------
# A1 — the count guard.
# ---------------------------------------------------------------------------

_COUNT_ORACLE = "SELECT count(*) AS n_rows FROM lineitem"


@query("count_guard", oracle=_COUNT_ORACLE)
def count_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: total row count (aiesec.py:133,186) — the value that gates
    the reference's email send (aiesec.py:236).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


# ---------------------------------------------------------------------------
# S2 — HTML card extraction over the recorded fixture cards, and the
# literal reference delta over the golden snapshot pair.  Both are
# hermetic (createDataFrame from fixtures; the oracle inlines the same
# literals via VALUES) — sf_dir is unused by design.
# ---------------------------------------------------------------------------

def _html_cards_oracle() -> str:
    from ..functions.html_cards import extract_cards_oracle_sql
    from ..sources.fixtures import cards_values_sql

    return extract_cards_oracle_sql(cards_values_sql())


@query("html_extract_cards", oracle=_html_cards_oracle())
def html_extract_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: per-card field extraction (aiesec.py:83-126), the cron
    job's driver-side parser over recorded HTML fixtures — filter,
    id-from-href, link concat, N/A sentinels, Premium flag, "."
    duration mapping."""
    from ..functions.html_cards import extract_cards
    from ..sources.fixtures import fixture_cards_df

    return extract_cards(fixture_cards_df(spark))


def _opportunity_delta_oracle() -> str:
    from ..sources.fixtures import TODAY_ROWS, YESTERDAY_ROWS

    def values(rows):
        return ", ".join(
            "(" + ", ".join("'" + v.replace("'", "''") + "'" for v in r) + ")"
            for r in rows
        )

    cols = ("opportunity_id, opportunity_link, title, country, premium, "
            "applicants, duration, organization")
    return f"""
WITH today({cols}) AS (VALUES {values(TODAY_ROWS)}),
yesterday({cols}) AS (VALUES {values(YESTERDAY_ROWS)})
SELECT t.* FROM today t
ANTI JOIN (SELECT DISTINCT opportunity_id FROM yesterday) y
  ON t.opportunity_id = y.opportunity_id
"""


@query("opportunity_snapshot_delta", oracle=_opportunity_delta_oracle())
def opportunity_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 exact parity on the golden pair: insert-only delta — the
    update (1338078, applicants 39→49) and the deletion must NOT
    appear; left-side duplicates are preserved (aiesec.py:137-145)."""
    from ..operators.snapshot import snapshot_delta
    from ..sources.fixtures import snapshot_pair

    today, yesterday = snapshot_pair(spark)
    return snapshot_delta(today, yesterday, keys=["opportunity_id"])
