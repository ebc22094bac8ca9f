"""HTML card extraction — the reference's parser (aiesec.py:67-126)
in plain Python on the driver.

The reference walks a BeautifulSoup tree per card on the driver; here
each card is one HTML string and every field comes from a few
compiled regexes (``parse_cards``).  A day is a few hundred cards, so
the parse runs where the fetch does, before Spark sees the day, and
costs the cron job no Spark job at all.  Field semantics are pinned
to the reference's behavior:

- filter: only anchors whose href contains "/opportunity/"
  (aiesec.py:84-86)
- opportunity_id: last path segment of href (aiesec.py:89)
- opportunity_link: absolute URL prefix + href (aiesec.py:88)
- title: <h3> text, trimmed, "N/A" when missing (aiesec.py:91-92)
- country: first <span> text (aiesec.py:96-102)
- premium: case-sensitive "Premium" containment → "Yes"/"No"
  (aiesec.py:94)
- applicants: lower-cased "... applicant(s)" text, "N/A" when
  missing (aiesec.py:108-113)
- duration: last <span> text; literal "." → "N/A" (aiesec.py:97-105)
- organization: org div text, "N/A" when missing (aiesec.py:115-116)

The pattern constants are shared with the DuckDB oracle
(``extract_cards_oracle_sql``) and use no engine-specific syntax.
They compile with ``re.ASCII``, so ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]``
as in java.util.regex, which ran this parse while it was a Spark
plan: the snapshots keep the values that plan stored.  Each text node
is stripped of that set; the SQL ``trim`` that follows strips spaces
only (``str.strip(" ")``), so a no-break or em space at a node's edge
is kept.

Known extraction limits (pinned in tests/test_html_cards.py):

- **No nested same-type tags inside a captured block.**  The lazy
  inner captures ([\\s\\S]*?) stop at the FIRST closing tag of the
  same type, so an org ``<div>`` containing an inner ``<div>``
  truncates at the inner ``</div>`` where bs4's ``get_text`` would
  collect the whole subtree.  The reference markup (aiesec.py card
  structure and all fixtures) never nests a same-type element inside
  h3/span/org blocks; balance-aware extraction would need a real
  parser.  DIFFERENT child tags (``<b>``, ``<em>``, spans inside h3,
  …) are fine — the lazy capture spans them and ``_text`` reduces them
  bs4-style.
- **\\x0B (vertical tab) strip divergence from the oracle.**  Here
  ``\\s`` includes \\x0B; RE2's does not — a text node edged by a
  vertical tab strips differently in the DuckDB oracle.  No real-world
  card markup contains \\x0B; the fixtures pin only \\t/\\n/\\r/space
  whitespace.
- **A final line separator.**  java.util.regex's ``$`` also matched
  before a text node's final U+0085, U+2028 or U+2029, so the Spark
  plan stripped the whitespace in front of one ("x \\u2028" →
  "x\\u2028"); here, as in RE2, ``$`` is the node's end and that
  whitespace stays.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame

from ..schemas import OPPORTUNITY_COLUMNS, OPPORTUNITY_SCHEMA

BASE_URL = "https://aiesec.org"

_HREF_RE = 'href="([^"]+)"'
# Inner captures are LAZY ([\s\S]*?) so nested child markup survives
# into the capture; _text then reduces it the way bs4
# get_text(strip=True) does.  ([^<]*) stopped at the first nested
# element: <h3>Senior <b>Intern</b></h3> yielded "Senior " where the
# reference gets "SeniorIntern" (aiesec.py:91-92).
_H3_RE = "<h3[^>]*>([\\s\\S]*?)</h3>"
_SPAN_RE = "<span[^>]*>([\\s\\S]*?)</span>"
_ORG_RE = '<div class="org"[^>]*>([\\s\\S]*?)</div>'
_APPLICANTS_RE = "([0-9]+ applicants?)"

#: Any HTML tag — the split delimiter for get_text emulation.
_TAG_RE = "<[^>]+>"
#: Leading or trailing whitespace of one text node.
_EDGE_WS_RE = r"^\s+|\s+$"

_HREF, _H3, _SPAN, _ORG, _APPLICANTS, _TAG, _EDGE_WS = (
    re.compile(p, re.ASCII)
    for p in (_HREF_RE, _H3_RE, _SPAN_RE, _ORG_RE, _APPLICANTS_RE, _TAG_RE, _EDGE_WS_RE)
)


def _text(fragment: str) -> str:
    """bs4 ``get_text(strip=True)`` over an inner-HTML fragment: split
    on tags into the text nodes, strip EACH node, join with '' —
    including the subtle case where the whitespace between a word and
    a child tag disappears ("Senior <b>Intern</b>" → "SeniorIntern",
    not "Senior Intern")."""
    return "".join(_EDGE_WS.sub("", node) for node in _TAG.split(fragment))


def _first(pattern: re.Pattern, html: str) -> str:
    """Group 1 of the first match, "" when there is none (SQL
    ``regexp_extract``)."""
    m = pattern.search(html)
    return m.group(1) if m else ""


def _na(value: str) -> str:
    value = value.strip(" ")
    return value if value else "N/A"


def _parse_card(html: str) -> tuple[str, ...] | None:
    """One card's 8 ``OPPORTUNITY_COLUMNS`` values, or None when the
    card is not an opportunity (no href containing "/opportunity/")."""
    href = _first(_HREF, html)
    if "/opportunity/" not in href:
        return None
    spans = [_text(s) for s in _SPAN.findall(html)]
    duration = spans[-1].strip(" ") if spans else ""
    return (
        href.split("/")[-1],
        BASE_URL + href,
        _na(_text(_first(_H3, html))),
        _na(spans[0] if spans else ""),
        "Yes" if "Premium" in html else "No",
        _na(_first(_APPLICANTS, html.lower())),
        "N/A" if duration == "." else _na(duration),
        _na(_text(_first(_ORG, html))),
    )


def parse_cards(htmls: Iterable[str | None]) -> pd.DataFrame:
    """One opportunity row per opportunity card, in input order, as a
    pandas frame of the 8 ``OPPORTUNITY_COLUMNS`` (all strings, "N/A"
    sentinels, never null).  A null card is no opportunity."""
    rows = [r for h in htmls if h is not None and (r := _parse_card(h)) is not None]
    return pd.DataFrame(rows, columns=OPPORTUNITY_COLUMNS, dtype=object)


def extract_cards(cards: DataFrame, html_col: str = "html") -> DataFrame:
    """``parse_cards`` over a card frame's ``html_col``: the column is
    collected, parsed on the driver and returned as an
    ``OPPORTUNITY_SCHEMA`` frame, one row per opportunity card, in the
    frame's order."""
    htmls = [r[0] for r in cards.select(html_col).collect()]
    return cards.sparkSession.createDataFrame(
        parse_cards(htmls), schema=OPPORTUNITY_SCHEMA
    )


def extract_cards_oracle_sql(values_sql: str) -> str:
    """DuckDB twin of ``parse_cards`` over a VALUES list of
    (page_id, html) rows."""
    # regexp strip per text node, then trim(x, ' '): the same two
    # steps as ``_text`` and ``_na``.  DuckDB's one-argument trim
    # would also strip no-break and other Unicode spaces.
    strip = (
        "array_to_string(list_transform("
        "string_split_regex({inner}, '{tag}'), "
        "t -> regexp_replace(t, '{edge}', '', 'g')), '')"
    )

    def _st(inner: str) -> str:
        return strip.format(inner=inner, tag=_TAG_RE, edge=_EDGE_WS_RE)

    return f"""
WITH cards(page_id, html) AS (VALUES {values_sql}),
x AS (
  SELECT page_id, html,
         regexp_extract(html, '{_HREF_RE}', 1) AS href,
         list_transform(regexp_extract_all(html, '{_SPAN_RE}', 1),
                        s -> {_st('s')}) AS spans
  FROM cards
),
f AS (SELECT * FROM x WHERE contains(href, '/opportunity/'))
SELECT string_split(href, '/')[-1] AS opportunity_id,
       '{BASE_URL}' || href AS opportunity_link,
       COALESCE(NULLIF(trim({_st(f"regexp_extract(html, '{_H3_RE}', 1)")}, ' '), ''), 'N/A') AS title,
       COALESCE(NULLIF(trim(spans[1], ' '), ''), 'N/A') AS country,
       CASE WHEN contains(html, 'Premium') THEN 'Yes' ELSE 'No' END AS premium,
       COALESCE(NULLIF(trim(regexp_extract(lower(html), '{_APPLICANTS_RE}', 1), ' '), ''), 'N/A')
         AS applicants,
       COALESCE(NULLIF(CASE WHEN trim(spans[-1], ' ') = '.' THEN 'N/A'
                            ELSE trim(spans[-1], ' ') END, ''), 'N/A') AS duration,
       COALESCE(NULLIF(trim({_st(f"regexp_extract(html, '{_ORG_RE}', 1)")}, ' '), ''), 'N/A')
         AS organization
FROM f
"""
