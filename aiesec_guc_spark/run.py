"""End-to-end pipeline runner — the reference's single top-to-bottom
script (aiesec.py:21-251 under the main.yml:35-36 cron) as one CLI
invocation:

    python -m aiesec_guc_spark --data-dir /path/snapshots \\
        --out-dir /path/reports --run-date 2026-08-13

Stage map (reference → here):

1. rotate (aiesec.py:20-21)      → one run_date partition per day;
                                   no file copy, "yesterday" = lag-1
                                   partition (operators/snapshot.py)
2. scrape (aiesec.py:22-67)      → `fetch_pages`: the pages fetched
                                   in page order on the driver
                                   (fixture-backed `_fetch` seam)
3. extract (aiesec.py:83-126)    → `parse_cards`: the cards parsed
                                   on the driver into one pandas
                                   frame, in page order
4. Today.xlsx (aiesec.py:130-132)→ `write_snapshot`: that frame
                                   written as the day's partition
                                   directory, swapped in whole
                                   (`swap_in`, local paths only);
                                   the same frame is the styled
                                   report (today_<date>.xlsx)
5. isin (aiesec.py:137-143)      → yesterday's keys collected once
                                   (`read_day`); the delta is
                                   today's rows whose key is not
                                   among them, as the reference's
                                   `~today.ID.isin(yesterday.ID)`
6. New.xlsx + style (:145-183)   → `write_styled_report` (+ autofit)
                                   from the delta frame
7. email iff delta (:188-251)    → `render_email_html` over the same
                                   delta frame, sent by
                                   `notify_if_nonempty` (transport
                                   injected; default logs)

First run (no prior partition): the whole snapshot is the delta, the
same as the reference diffing against an empty Yesterday.  A day runs
two Spark jobs, the snapshot write and the key read; the first day
runs only the write.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys
from collections.abc import Callable

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def run_pipeline(
    spark: SparkSession,
    data_dir: str,
    out_dir: str,
    run_date: str,
    send: Callable[[str], None] | None = None,
    base_url: str | None = None,
    pages: int = 0,
) -> dict:
    """One scheduled run, start to finish.  Returns a summary dict
    (rows scraped, delta rows, report path, whether a notification
    went out) so callers/tests can assert on the outcome."""
    from .functions.html_cards import parse_cards
    from .operators.maintenance import list_partitions
    from .operators.snapshot import read_day, write_snapshot
    from .schemas import OPPORTUNITY_SCHEMA
    from .sinks.report import notify_if_nonempty, render_email_html, write_styled_report
    from .sources.listing_scrape import fetch_pages

    snap_path = os.path.join(data_dir, "snapshots")

    # The day is a few hundred rows: fetch, parse and diff it on the
    # driver, as the reference does with the frame it holds
    # (aiesec.py:67-143), and build every presentation artifact and
    # count from the local frames.  Spark writes the snapshot and
    # reads yesterday's keys, nothing else.
    pages_html = fetch_pages(base_url=base_url or None, pages=pages)
    today_pdf = parse_cards(html for _, html in pages_html)
    write_snapshot(
        spark.createDataFrame(today_pdf, schema=OPPORTUNITY_SCHEMA), snap_path, run_date
    )

    # Prior-day discovery lists the partition DIRECTORIES (same rule
    # as read_snapshot_pair): a quiet day's partition holds a zero-row
    # file that a distinct-over-rows would skip, silently diffing
    # today against an OLDER day — suppressing re-appearances as
    # "not new".  Swap siblings are dot-prefixed and never listed, and
    # write_snapshot has healed any day a crashed swap left as one.
    # ISO run_date strings order lexically.
    prior_dates = [
        d
        for d in list_partitions(snap_path, "run_date")
        if d < run_date
    ]
    delta_pdf = today_pdf  # first run: all new
    if prior_dates:
        # Left duplicates and page order are kept, as the reference's
        # boolean mask keeps them.
        yesterday = read_day(spark, snap_path, prior_dates[-1])
        seen = [r[0] for r in yesterday.select("opportunity_id").collect()]
        delta_pdf = today_pdf[~today_pdf["opportunity_id"].isin(seen)]

    os.makedirs(out_dir, exist_ok=True)
    # Literal Today.xlsx parity (aiesec.py:130-132): the FULL snapshot
    # goes through the styled-report edge too, alongside its canonical
    # parquet partition — the reference ships both artifacts per run.
    snapshot_report_path = write_styled_report(
        today_pdf, os.path.join(out_dir, f"today_{run_date}")
    )
    report_path = write_styled_report(
        delta_pdf, os.path.join(out_dir, f"new_{run_date}")
    )
    notified = notify_if_nonempty(render_email_html(delta_pdf), send=send)

    log.info("run %s: %d scraped, %d new", run_date, len(today_pdf), len(delta_pdf))
    return {
        "run_date": run_date,
        "rows_scraped": len(today_pdf),
        "delta_rows": len(delta_pdf),
        "report_path": report_path,
        "snapshot_report_path": snapshot_report_path,
        "notified": notified,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="aiesec_guc_spark", description=__doc__)
    p.add_argument("--data-dir", required=True, help="local snapshot table root")
    p.add_argument("--out-dir", required=True, help="report output dir")
    p.add_argument("--run-date", required=True, help="YYYY-MM-DD of this run")
    p.add_argument(
        "--base-url",
        help="fetch listing pages over HTTP ({base_url}?page=N) instead of fixtures",
    )
    p.add_argument(
        "--pages", type=int, default=0, help="number of pages with --base-url"
    )
    p.add_argument(
        "--smtp-host",
        help="send the guarded notification via smtplib to this host "
        "(credentials via SPARK_GRAFT_SMTP_USER/_PASSWORD; default logs only)",
    )
    p.add_argument("--smtp-port", type=int, default=587)
    p.add_argument("--smtp-from", default="pipeline@localhost")
    p.add_argument("--smtp-to", help="comma-separated recipient list")
    p.add_argument("--smtp-tls", action="store_true", help="STARTTLS before auth")
    args = p.parse_args(argv)

    # Fail at parse time, not mid-pipeline: --base-url with the default
    # pages=0 is refused by `fetch_pages` only after a Spark session
    # has started, and
    # --smtp-host with no recipients raises SMTPRecipientsRefused only
    # AFTER the whole run (scrape + snapshot + reports) has completed,
    # losing the notification.
    if args.base_url and args.pages < 1:
        p.error("--base-url requires --pages >= 1")
    if args.smtp_host and not (args.smtp_to or "").strip():
        p.error("--smtp-host requires --smtp-to")

    send: Callable[[str], None] | None = None
    if args.smtp_host:
        from .sinks.smtp import SMTPTransport

        send = SMTPTransport(
            host=args.smtp_host,
            port=args.smtp_port,
            sender=args.smtp_from,
            recipients=[r.strip() for r in (args.smtp_to or "").split(",") if r.strip()],
            security="starttls" if args.smtp_tls else "none",
        )

    logging.basicConfig(level=logging.INFO)
    from .session import get_spark

    spark = get_spark("pipeline_run")
    spark.sparkContext.setLogLevel("ERROR")
    summary = run_pipeline(
        spark,
        args.data_dir,
        args.out_dir,
        args.run_date,
        send=send,
        base_url=args.base_url,
        pages=args.pages,
    )
    print(summary)
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
