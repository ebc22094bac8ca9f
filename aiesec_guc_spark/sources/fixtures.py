"""Recorded fixtures (FIXTURES.md §A): HTML card fragments and the
golden snapshot pair.  No network anywhere — these pin the exact
extraction and delta semantics of the reference
(aiesec.py:83-126, aiesec.py:137-145) so tests and oracle queries are
hermetic.

The HTML shape mirrors the structural features the reference's
selectors rely on (opportunity anchor, h3 title, span location/
duration, Premium badge text, applicants text, org div) without
copying any reference markup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import OPPORTUNITY_COLUMNS, OPPORTUNITY_SCHEMA, RAW_CARD_SCHEMA

# (page_id, html) — variants per FIXTURES.md §A2.
FIXTURE_CARDS: list[tuple[int, str]] = [
    # plain card, every field present
    (
        1,
        '<a href="/opportunity/global-talent/1000001">'
        "<h3>Data Engineering Intern</h3>"
        "<span>Berlin, Germany</span><span>6 - 18 Months</span>"
        '<div class="org">Acme GmbH</div>'
        '<div class="meta">12 applicants</div></a>',
    ),
    # premium card
    (
        1,
        '<a href="/opportunity/global-talent/1000002">'
        "<h3>Marketing Trainee</h3><b>Premium</b>"
        "<span>Cairo, Egypt</span><span>9 - 12 Weeks</span>"
        '<div class="org">DataDEV</div>'
        '<div class="meta">1 applicant</div></a>',
    ),
    # missing title
    (
        1,
        '<a href="/opportunity/global-talent/1000003">'
        "<span>Lima, Peru</span><span>3 - 6 Months</span>"
        '<div class="org">Orgless Co</div>'
        '<div class="meta">7 applicants</div></a>',
    ),
    # duration "." sentinel
    (
        2,
        '<a href="/opportunity/global-talent/1000004">'
        "<h3>Backend Developer</h3>"
        "<span>Remote</span><span>.</span>"
        '<div class="org">DotCorp</div>'
        '<div class="meta">3 applicants</div></a>',
    ),
    # missing org + missing applicants
    (
        2,
        '<a href="/opportunity/global-talent/1000005">'
        "<h3>Teaching Volunteer</h3>"
        "<span>Hanoi, Vietnam</span><span>8 Weeks</span></a>",
    ),
    # non-opportunity anchor — must be filtered out
    (
        2,
        '<a href="/about-us"><h3>About AIESEC</h3><span>nowhere</span></a>',
    ),
    # nested child markup inside h3 / span / org — bs4 get_text
    # collects text across descendants, stripping each text node and
    # joining with '' (aiesec.py:91-92, 102-103): "Senior <b>Intern"
    # → "SeniorIntern", "Oslo,\n  <i>Norway</i>" → "Oslo,Norway".
    (
        3,
        '<a href="/opportunity/global-talent/1000006">'
        "<h3>Senior <b>Intern</b></h3>"
        "<span>Oslo,\n  <i>Norway</i></span><span><b>12</b> Months</span>"
        '<div class="org"><em>Nested</em> Org</div>'
        '<div class="meta">4 applicants</div></a>',
    ),
]

# Golden snapshot pair (FIXTURES.md §A1): relative to yesterday, today
# has an insert (2001), an update (1338078: applicants 39→49 — must
# NOT appear in the delta), a delete (1999 — must NOT appear),
# duplicate IDs on both sides (3003), and "N/A" sentinels.
_LINK = "https://aiesec.org/opportunity/global-talent/"

YESTERDAY_ROWS: list[tuple] = [
    ("1338078", _LINK + "1338078", "EX Engagement Intern", "Bonn, Germany", "No", "39 applicants", "6 - 18 Months", "DHL Group"),
    ("1999", _LINK + "1999", "Departing Role", "Lisbon, Portugal", "No", "5 applicants", "3 Months", "OldOrg"),
    ("3003", _LINK + "3003", "Dup Row", "Accra, Ghana", "No", "2 applicants", "N/A", "DupOrg"),
    ("3003", _LINK + "3003", "Dup Row", "Accra, Ghana", "No", "2 applicants", "N/A", "DupOrg"),
]

TODAY_ROWS: list[tuple] = [
    ("1338078", _LINK + "1338078", "EX Engagement Intern", "Bonn, Germany", "No", "49 applicants", "6 - 18 Months", "DHL Group"),
    ("2001", _LINK + "2001", "Fresh Opening", "N/A", "Yes", "N/A", "9 - 12 Weeks", "NewOrg"),
    ("3003", _LINK + "3003", "Dup Row", "Accra, Ghana", "No", "2 applicants", "N/A", "DupOrg"),
    ("3003", _LINK + "3003", "Dup Row", "Accra, Ghana", "No", "2 applicants", "N/A", "DupOrg"),
]

# The insert-only delta the reference would write to New.xlsx.
EXPECTED_DELTA_ROWS: list[tuple] = [
    ("2001", _LINK + "2001", "Fresh Opening", "N/A", "Yes", "N/A", "9 - 12 Weeks", "NewOrg"),
]


def fixture_cards_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(FIXTURE_CARDS, schema=RAW_CARD_SCHEMA)


def snapshot_pair(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    today = spark.createDataFrame(TODAY_ROWS, schema=OPPORTUNITY_SCHEMA)
    yesterday = spark.createDataFrame(YESTERDAY_ROWS, schema=OPPORTUNITY_SCHEMA)
    return today, yesterday


def cards_values_sql() -> str:
    """FIXTURE_CARDS as a SQL VALUES list (for the DuckDB oracle)."""
    parts = []
    for page_id, html in FIXTURE_CARDS:
        esc = html.replace("'", "''")
        parts.append(f"({page_id}, '{esc}')")
    return ", ".join(parts)


assert len(OPPORTUNITY_COLUMNS) == 8
