"""Scrape-source connector (reference S1, aiesec.py:22-67) on the
Spark 4 Python Data Source API.

The reference drives a headless browser ("Load more" pagination, 30 s
sleeps) on the driver; the Spark-native shape is a custom
``DataSource`` whose reader deals the page list round-robin into at
most ``session.default_parallelism()`` partitions.  Each partition
fetches its pages one after another, so fetching parallelizes across
cores without paying one task (and one output file) per page, and the
listing site sees at most one request per core.

Three fetch modes behind one seam:

- **fixtures** (default): recorded HTML fragments (hermetic builds,
  FIXTURES.md §A2).
- **HTTP**: pass ``.option("base_url", ...)`` and ``.option("pages",
  N)`` (N >= 1) — each partition GETs ``{base_url}?page={p}`` for its
  pages with stdlib urllib from its executor, retrying connection
  errors, timeouts and 5xx answers a fixed few times.  Partitioning,
  schema, and registration are identical in every mode.
- **pluggable renderer**: ``.option("fetcher",
  "my_pkg.scrape:render_fetch")`` names an importable callable
  ``(page_id, base_url, timeout) -> list[str]`` that REPLACES the
  HTTP GET on each executor.  This is the seam for JS-driven pages —
  the reference drives headless Chromium (cookie-dialog dismissal
  aiesec.py:40-46, "Load more" click loop aiesec.py:51-63) because
  the listing only exists after JS executes; a playwright/selenium
  fetcher slots in here and runs for each page of a partition on the
  executor, so rendering still parallelizes across the cluster.  The
  option is an import path (module:function), not a closure, because
  data-source options are strings and the name must resolve on every
  executor.

Usage:
    register_listing_source(spark)
    spark.read.format("listing_scrape").load()   # page_id, html rows
    spark.read.format("listing_scrape")
         .option("base_url", "http://host/listings")
         .option("pages", 3).load()
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request

from pyspark.sql import SparkSession

try:  # Spark >= 4.0
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    _HAS_DATASOURCE_API = True
except ImportError:  # pragma: no cover - older Spark
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceReader = object  # type: ignore[assignment,misc]
    InputPartition = object  # type: ignore[assignment,misc]
    SimpleDataSourceStreamReader = object  # type: ignore[assignment,misc]
    _HAS_DATASOURCE_API = False


def _fixture_pages() -> dict[int, list[str]]:
    from .fixtures import FIXTURE_CARDS

    pages: dict[int, list[str]] = {}
    for page_id, html in FIXTURE_CARDS:
        pages.setdefault(page_id, []).append(html)
    return pages


def resolve_fetcher(spec: str):
    """Resolve a ``module:function`` (or ``module.function``) import
    path to the callable — executed on the executor, where the
    rendering library actually lives."""
    import importlib

    mod, sep, fn = spec.partition(":")
    if not sep:
        mod, _, fn = spec.rpartition(".")
    if not mod or not fn:
        raise ValueError(
            f"fetcher must be 'module:function', got {spec!r}"
        )
    return getattr(importlib.import_module(mod), fn)


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
    fetcher: str | None = None,
) -> list[str]:
    """The fetch seam: page id → HTML fragments for that page.

    With ``fetcher`` set, the named callable does the fetch (JS
    rendering, authenticated sessions, anything a plain GET can't do);
    with only ``base_url`` it GETs ``{base_url}?page={page_id}`` — the
    reference's browser pagination (aiesec.py:51-63) as one stateless
    HTTP request per page, retried on transient failures
    (``_http_get``); with neither it serves recorded fixtures
    (hermetic builds).  Partitioning, schema, and registration are
    unchanged by the mode — executors call `_fetch` per assigned page.
    """
    if fetcher is not None:
        return list(resolve_fetcher(fetcher)(page_id, base_url, timeout))
    if base_url is None:
        return _fixture_pages()[page_id]
    return [_http_get(f"{base_url}?page={page_id}", timeout)]


def _fetch_pages(page_ids, base_url, timeout, fetcher):
    """Yield ``(page_id, html)`` for each page in order — the one loop
    over `_fetch` that every reader shares."""
    for page_id in page_ids:
        for html in _fetch(page_id, base_url, timeout, fetcher):
            yield (page_id, html)


def _live_pages(options) -> int | None:
    """The ``pages`` option when a live mode (``base_url`` or
    ``fetcher``) is set, else None (fixture mode).  A live mode needs
    at least one page: zero pages would plan an empty scan that fails
    inside a worker instead of here."""
    if options.get("base_url") is None and options.get("fetcher") is None:
        return None
    n_pages = int(options.get("pages", "0"))
    if n_pages < 1:
        raise ValueError(
            f"listing_scrape: pages must be >= 1 with base_url or fetcher, got {n_pages}"
        )
    return n_pages


def demo_render_fetcher(
    page_id: int, base_url: str | None, timeout: float
) -> list[str]:
    """Executable example of a rendering fetcher: simulates content
    that exists only AFTER JS runs — each "rendered" card carries a
    ``data-rendered`` attribute and nested markup that neither the
    fixture set nor a plain HTTP GET of this (network-less) sandbox
    could produce.  A real deployment replaces this body with
    playwright/selenium driving headless Chromium per page (dismiss
    the cookie dialog, click "Load more" until page ``page_id`` is
    present — aiesec.py:40-63); the signature and per-executor
    execution model are exactly what that driver needs."""
    n_cards = 2
    cards = []
    for i in range(1, n_cards + 1):
        opp = 9000000 + page_id * 100 + i
        cards.append(
            f'<a data-rendered="true" href="/opportunity/global-talent/{opp}">'
            f"<h3>Rendered <b>Role {i}</b></h3>"
            f"<span>City {page_id}, Country</span><span>{i} Months</span>"
            f'<div class="org">JS <em>Org</em> {page_id}</div>'
            f'<div class="meta">{i} applicants</div></a>'
        )
    return cards


class ListingScrapeDataSource(DataSource):  # type: ignore[misc]
    """`format("listing_scrape")` — one row per card fragment."""

    @classmethod
    def name(cls) -> str:
        return "listing_scrape"

    def schema(self) -> str:
        return "page_id int, html string"

    def reader(self, schema) -> "ListingScrapeReader":
        return ListingScrapeReader(self.options)

    def simpleStreamReader(self, schema) -> "ListingScrapeStreamReader":
        return ListingScrapeStreamReader(self.options)


class ListingScrapeReader(DataSourceReader):  # type: ignore[misc]
    """The batch reader.  The reference fetches pages serially behind a
    per-page sleep (aiesec.py:51-63); here the pages are dealt
    round-robin into ``min(n_pages, default_parallelism())``
    partitions, each carrying a list of page ids that ``read`` fetches
    one after another.  A few hundred cards a day make per-task and
    per-file cost, not fetch time, the price of a page — so a page is
    not a partition.  Fixture mode is grouped the same way."""

    def __init__(self, options=None):
        options = options or {}
        self.base_url = options.get("base_url")
        self.fetcher = options.get("fetcher")
        self.n_pages = _live_pages(options)
        self.timeout = float(options.get("timeout", "30"))

    def partitions(self):
        from ..session import default_parallelism

        if self.n_pages is None:
            pages = sorted(_fixture_pages())
        else:
            pages = list(range(1, self.n_pages + 1))
        n_parts = min(len(pages), default_parallelism())
        return [InputPartition(pages[i::n_parts]) for i in range(n_parts)]

    def read(self, partition):
        yield from _fetch_pages(partition.value, self.base_url, self.timeout, self.fetcher)


class ListingScrapeStreamReader(SimpleDataSourceStreamReader):  # type: ignore[misc]
    """Streaming form of the scrape source: ``readStream.format(
    "listing_scrape")`` serves ONE listing page per micro-batch — the
    reference's "Load more" loop (aiesec.py:51-63) re-expressed as an
    incremental source with a durable offset.

    The offset is the next page number, checkpointed by the engine;
    ``readBetweenOffsets`` replays any page range deterministically
    (the fetch seam is stateless per page), which is what makes
    recovery after a checkpointed failure exactly-once.  Each batch
    reads every page currently available (file-source semantics;
    one ``availableNow`` batch drains the fixture set and matches the
    batch reader exactly) — ``option("pages_per_trigger", N)``
    throttles a live re-scrape to N pages per micro-batch.
    """

    def __init__(self, options=None):
        options = options or {}
        self.base_url = options.get("base_url")
        self.fetcher = options.get("fetcher")
        self.timeout = float(options.get("timeout", "30"))
        self.per_trigger = int(options.get("pages_per_trigger", "0"))  # 0 = all
        n_pages = _live_pages(options)
        if n_pages is not None:
            self.max_page = n_pages
            self.first_page = 1
        else:
            pages = sorted(_fixture_pages())
            self.max_page = pages[-1] if pages else 0
            self.first_page = pages[0] if pages else 1

    def initialOffset(self) -> dict:
        return {"page": self.first_page}

    def _rows(self, first: int, end: int) -> list[tuple]:
        """Rows of pages ``first .. end - 1``, clamped to the last page."""
        pages = range(first, min(end, self.max_page + 1))
        return list(_fetch_pages(pages, self.base_url, self.timeout, self.fetcher))

    def read(self, start: dict):
        page = start["page"]
        if page > self.max_page:  # caught up: empty batch, same offset
            return iter([]), start
        last = self.max_page if self.per_trigger <= 0 else min(
            self.max_page, page + self.per_trigger - 1
        )
        return iter(self._rows(page, last + 1)), {"page": last + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(start["page"], end["page"]))


def register_listing_source(spark: SparkSession) -> bool:
    """Register the connector; returns False when the Python Data
    Source API is unavailable (caller falls back to fixtures)."""
    if not _HAS_DATASOURCE_API:
        return False
    spark.dataSource.register(ListingScrapeDataSource)
    return True
