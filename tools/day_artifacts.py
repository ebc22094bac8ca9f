"""Dump everything a sequence of cron days leaves behind, as one JSON
document, so two commits can be compared run for run.

Two sequences of ``run.run_pipeline`` days, each on its own data
directory:

- ``http``: ``--days`` days of a seeded churning listing
  (``perfbench/gen.py``'s ``ListingGen``, ``--cards`` cards a day),
  served over localhost HTTP by ``perfbench/listing_server.py``;
- ``fixtures``: two days on the recorded fixture cards (the second
  finds nothing new), a quiet day (one served page with no card), a
  fixture day after it, and a same-day retry of that day.

For each run the dump holds the summary (report paths as file names),
the email bodies sent, and both workbooks (header, rows, and a digest
of each part of the file, which covers cells and styles).  For each
sequence it holds the decoded rows of every ``run_date`` partition,
sorted, with the schema read from the files.  Compare decoded rows,
not parquet bytes: the bytes differ between runs.

From day 2 on, ``ListingGen`` pages depend on the string hash seed, so
pin it when comparing processes:

    PYTHONHASHSEED=0 python tools/day_artifacts.py out.json [--seed 7] [--days 5]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: A listing page that holds no opportunity card.
QUIET_PAGE = '<div class="empty">No opportunities today.</div>'


def workbook(path: str) -> dict:
    from aiesec_guc_spark.sinks.xlsxlite import read_xlsx

    header, rows = read_xlsx(path)
    with zipfile.ZipFile(path) as z:
        parts = {n: hashlib.sha256(z.read(n)).hexdigest() for n in sorted(z.namelist())}
    return {"header": header, "rows": rows, "parts": parts}


def run_day(spark, data_dir: str, out_dir: str, run_date: str, **source) -> dict:
    from aiesec_guc_spark.run import run_pipeline

    sent: list[str] = []
    summary = run_pipeline(spark, data_dir, out_dir, run_date, send=sent.append, **source)
    books = {k: workbook(summary[k]) for k in ("snapshot_report_path", "report_path")}
    summary = {
        k: os.path.basename(v) if k.endswith("_path") else v for k, v in summary.items()
    }
    return {"summary": summary, "emails": sent, "workbooks": books}


def table_days(spark, data_dir: str) -> dict:
    from aiesec_guc_spark.operators.maintenance import list_partitions

    snap = os.path.join(data_dir, "snapshots")
    days = {}
    for d in list_partitions(snap, "run_date"):
        df = spark.read.parquet(os.path.join(snap, f"run_date={d}"))
        days[d] = {
            "schema": df.schema.simpleString(),
            "rows": sorted(list(r) for r in df.collect()),
        }
    return days


def http_sequence(spark, work: str, seed: int, n_days: int, n_cards: int) -> dict:
    from perfbench.gen import ListingGen
    from perfbench.listing_server import ListingServer

    data_dir, out_dir = os.path.join(work, "data"), os.path.join(work, "out")
    gen = ListingGen(seed, n_cards)
    runs = []
    with ListingServer() as server:
        for _ in range(n_days):
            day = gen.next_day()
            server.pages = day.pages
            runs.append(run_day(spark, data_dir, out_dir, day.run_date,
                                base_url=server.base_url, pages=len(day.pages)))
    return {"runs": runs, "tables": table_days(spark, data_dir)}


def fixture_sequence(spark, work: str) -> dict:
    from perfbench.listing_server import ListingServer

    data_dir, out_dir = os.path.join(work, "data"), os.path.join(work, "out")
    runs = [
        run_day(spark, data_dir, out_dir, "2026-08-10"),
        run_day(spark, data_dir, out_dir, "2026-08-11"),
    ]
    with ListingServer() as server:
        server.pages = [QUIET_PAGE]
        runs.append(run_day(spark, data_dir, out_dir, "2026-08-12",
                            base_url=server.base_url, pages=1))
    runs.append(run_day(spark, data_dir, out_dir, "2026-08-13"))
    runs.append(run_day(spark, data_dir, out_dir, "2026-08-13"))  # same-day retry
    return {"runs": runs, "tables": table_days(spark, data_dir)}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("out", help="JSON file to write")
    p.add_argument("--seed", type=int, default=7, help="listing seed of the http sequence")
    p.add_argument("--days", type=int, default=5, help="days in the http sequence")
    p.add_argument("--cards", type=int, default=24, help="cards a day in the http sequence")
    args = p.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") is None:
        print("day_artifacts: PYTHONHASHSEED is unset; listing pages from day 2 "
              "on differ between processes", file=sys.stderr)

    from aiesec_guc_spark.session import get_spark

    spark = get_spark("day_artifacts")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        with tempfile.TemporaryDirectory(prefix="day_artifacts_") as work:
            dump = {
                "http": http_sequence(spark, os.path.join(work, "http"),
                                      args.seed, args.days, args.cards),
                "fixtures": fixture_sequence(spark, os.path.join(work, "fixtures")),
            }
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(dump, f, indent=1, sort_keys=True)
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
