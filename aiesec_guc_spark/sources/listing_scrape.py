"""Scrape-source connector (reference S1, aiesec.py:22-67): the day's
listing pages fetched on the driver as plain ``(page_id, html)`` rows.

The reference drives a headless browser ("Load more" pagination, 30 s
sleeps) on the driver and keeps the day as one local frame
(aiesec.py:22-67, 130).  A day is a few hundred cards, so here too the
driver fetches the pages in page order (``fetch_pages``), and the
cron job parses those rows on the driver (``functions/html_cards``)
before Spark sees the day.  A page that keeps failing raises before
any Spark job runs, so a failed scrape never reaches the snapshot
write.  ``read_pages`` hands the same rows to Spark as a pandas
frame; with Arrow on (the session default) Spark plans a
``LocalTableScan`` and starts no Python worker.

Three fetch modes behind one seam (`_fetch`):

- **fixtures** (default): recorded HTML fragments (hermetic builds,
  FIXTURES.md §A2).
- **HTTP**: ``base_url`` and ``pages`` (N >= 1) — GET
  ``{base_url}?page={p}`` for p = 1..N with stdlib urllib, retrying
  connection errors, timeouts and 5xx answers a fixed few times.
- **pluggable renderer**: ``fetcher`` is a callable
  ``(page_id, base_url, timeout) -> list[str]`` that REPLACES the
  HTTP GET.  This is the seam for JS-driven pages — the reference
  drives headless Chromium (cookie-dialog dismissal aiesec.py:40-46,
  "Load more" click loop aiesec.py:51-63) because the listing only
  exists after JS executes; a playwright/selenium fetcher slots in
  here and runs in the driver process.

Usage:
    fetch_pages()                                        # fixtures
    fetch_pages(base_url="http://host/listings", pages=3)
    read_pages(spark, fetcher=render_page, pages=3)      # as a frame
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: ``(page_id, base_url, timeout) -> list[str]`` — one page's card
#: fragments.
Fetcher = Callable[[int, str | None, float], list[str]]


def _fixture_pages() -> dict[int, list[str]]:
    from .fixtures import FIXTURE_CARDS

    pages: dict[int, list[str]] = {}
    for page_id, html in FIXTURE_CARDS:
        pages.setdefault(page_id, []).append(html)
    return pages


#: HTTP GET attempts per page, and the pause before each retry grows
#: by this step: a transient failure costs at most 0.2 + 0.4 s.
_GET_ATTEMPTS = 3
_RETRY_STEP_S = 0.2


def _http_get(url: str, timeout: float) -> str:
    """GET ``url``, retrying connection errors, timeouts and 5xx
    answers; ``_GET_ATTEMPTS`` tries in all.  A 4xx answer is the
    site's final word and raises at once; so does the last failure."""

    def get() -> str:
        with urllib.request.urlopen(url, timeout=timeout) as r:
            return r.read().decode("utf-8", errors="replace")

    for attempt in range(1, _GET_ATTEMPTS):
        try:
            return get()
        except urllib.error.HTTPError as e:
            if e.code < 500:
                raise
        except (urllib.error.URLError, TimeoutError, ConnectionError):
            pass
        time.sleep(_RETRY_STEP_S * attempt)
    return get()


def _fetch(
    page_id: int,
    base_url: str | None = None,
    timeout: float = 30.0,
    fetcher: Fetcher | None = None,
) -> list[str]:
    """The fetch seam: page id → HTML fragments for that page.

    With ``fetcher`` set, that callable does the fetch (JS rendering,
    authenticated sessions, anything a plain GET can't do); with only
    ``base_url`` it GETs ``{base_url}?page={page_id}`` — the
    reference's browser pagination (aiesec.py:51-63) as one stateless
    HTTP request per page, retried on transient failures
    (``_http_get``); with neither it serves recorded fixtures
    (hermetic builds)."""
    if fetcher is not None:
        return list(fetcher(page_id, base_url, timeout))
    if base_url is None:
        return _fixture_pages()[page_id]
    return [_http_get(f"{base_url}?page={page_id}", timeout)]


def fetch_pages(
    base_url: str | None = None,
    pages: int = 0,
    fetcher: Fetcher | None = None,
) -> list[tuple[int, str]]:
    """The day's card fragments as ``(page_id, html)`` rows, one per
    fragment, in page order, all fetched here on the driver.

    With ``base_url`` or ``fetcher`` set, pages 1..``pages`` are
    fetched and ``pages`` must be >= 1; with neither, the recorded
    fixture pages are served.  A page that keeps failing raises from
    this call."""
    if base_url is None and fetcher is None:
        page_ids = sorted(_fixture_pages())
    elif pages < 1:
        raise ValueError(
            f"listing_scrape: pages must be >= 1 with base_url or fetcher, got {pages}"
        )
    else:
        page_ids = range(1, pages + 1)
    return [
        (page_id, html)
        for page_id in page_ids
        for html in _fetch(page_id, base_url, fetcher=fetcher)
    ]


def read_pages(
    spark: SparkSession,
    base_url: str | None = None,
    pages: int = 0,
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """``fetch_pages`` as a ``(page_id int, html string)`` frame: a
    local relation, so evaluating it again fetches nothing."""
    import pandas as pd

    rows = fetch_pages(base_url, pages, fetcher)
    pdf = pd.DataFrame(
        {
            "page_id": pd.array([p for p, _ in rows], dtype="int32"),
            "html": pd.Series([h for _, h in rows], dtype=object),
        }
    )
    return spark.createDataFrame(pdf, schema="page_id int, html string")
