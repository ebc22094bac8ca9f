"""End-to-end runner (reference aiesec.py:21-251 / main.yml:35-36 as
one invocation) and the S6 styled Excel write with autofit."""

from __future__ import annotations

import os

import pytest

from aiesec_guc_spark.run import run_pipeline
from aiesec_guc_spark.sinks.report import (
    render_email_html,
    write_styled_report,
)
from aiesec_guc_spark.sources.fixtures import snapshot_pair


def test_pipeline_first_and_second_run(spark, tmp_path):
    data_dir, out_dir = str(tmp_path / "data"), str(tmp_path / "out")
    sent: list[str] = []

    # First run: no prior partition, every scraped card is new.
    s1 = run_pipeline(spark, data_dir, out_dir, "2026-08-12", send=sent.append)
    assert s1["rows_scraped"] == 6
    assert s1["delta_rows"] == 6
    assert s1["notified"] and len(sent) == 1
    assert os.path.exists(s1["report_path"])
    # Both per-run artifacts exist: the delta report (New.xlsx) AND
    # the full-snapshot report (Today.xlsx, aiesec.py:130-132).
    assert os.path.exists(s1["snapshot_report_path"])
    assert s1["snapshot_report_path"] != s1["report_path"]
    # Full email document, not bare cards (aiesec.py:221-233).
    assert sent[0].startswith("<!DOCTYPE html>")
    assert "<meta charset=" in sent[0] and "</html>" in sent[0]

    # Second run, same fixture scrape: nothing new, notify skipped.
    s2 = run_pipeline(spark, data_dir, out_dir, "2026-08-13", send=sent.append)
    assert s2["delta_rows"] == 0
    assert not s2["notified"] and len(sent) == 1
    assert os.path.exists(s2["report_path"])
    assert os.path.exists(s2["snapshot_report_path"])

    # The counts are the rows of the two workbooks, on both days.
    from aiesec_guc_spark.sinks import xlsxlite

    for s in (s1, s2):
        assert s["rows_scraped"] == len(xlsxlite.read_xlsx(s["snapshot_report_path"])[1])
        assert s["delta_rows"] == len(xlsxlite.read_xlsx(s["report_path"])[1])


def test_pipeline_day_runs_two_spark_jobs(spark, tmp_path):
    """The day is fetched, parsed and diffed on the driver: Spark runs
    the snapshot write and, with a prior day, the read of yesterday's
    keys, and nothing else.  Counted by job group, so the jobs of
    earlier tests do not count."""
    data_dir, out_dir = str(tmp_path / "data"), str(tmp_path / "out")
    sc = spark.sparkContext

    def jobs_of(run_date):
        group = f"pipeline_jobs_{run_date}"
        sc.setJobGroup(group, group)
        try:
            summary = run_pipeline(spark, data_dir, out_dir, run_date)
            return summary, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    first, first_jobs = jobs_of("2026-08-12")
    second, second_jobs = jobs_of("2026-08-13")
    assert (first["delta_rows"], second["delta_rows"]) == (6, 0)
    assert (first_jobs, second_jobs) == (1, 2)


def test_styled_xlsx_autofit(spark, tmp_path):
    """Autofit parity (aiesec.py:175-181): every column of the styled
    report gets a width — real xlsx bytes written by xlsxlite and
    audited via its stdlib XML reader."""
    from helpers import read_styles

    today, _ = snapshot_pair(spark)
    t_path = write_styled_report(today.toPandas(), str(tmp_path / "Today"))
    assert t_path.endswith(".xlsx")
    n_cols = len(today.columns)
    styles = read_styles(t_path)
    widths = [styles["col_widths"].get(i) for i in range(1, n_cols + 1)]
    assert all(w and w >= 3 for w in widths)


def test_cli_main_runs_end_to_end(spark, tmp_path):
    """The argparse entry (python -m aiesec_guc_spark) wires the same
    pipeline; exit code 0 and a report on disk."""
    from aiesec_guc_spark.run import main

    rc = main(
        [
            "--data-dir", str(tmp_path / "d"),
            "--out-dir", str(tmp_path / "o"),
            "--run-date", "2026-08-13",
        ]
    )
    assert rc == 0
    out_names = sorted(p.name for p in (tmp_path / "o").iterdir())
    assert len(out_names) == 2  # new_<date> delta + today_<date> snapshot
    assert out_names[0].startswith("new_") and out_names[1].startswith("today_")


def test_cli_rejects_incoherent_flag_combinations(tmp_path):
    # Parse-time validation: --base-url with the default pages=0 would
    # be refused by read_pages only after a Spark session has started;
    # --smtp-host with no recipients would raise
    # SMTPRecipientsRefused only AFTER the whole pipeline ran.
    from aiesec_guc_spark.run import main

    base = [
        "--data-dir", str(tmp_path / "d"),
        "--out-dir", str(tmp_path / "o"),
        "--run-date", "2026-08-13",
    ]
    for extra in (
        ["--base-url", "http://localhost:1/listings"],
        ["--base-url", "http://localhost:1/listings", "--pages", "0"],
        ["--smtp-host", "localhost"],
        ["--smtp-host", "localhost", "--smtp-to", "  "],
    ):
        with pytest.raises(SystemExit) as exc:
            main(base + extra)
        assert exc.value.code == 2


def test_email_html_is_full_document(spark):
    today, _ = snapshot_pair(spark)
    html = render_email_html(today.toPandas())
    assert html.startswith("<!DOCTYPE html>")
    assert html.rstrip().endswith("</html>")
    assert "card" in html
    empty = today.filter("1 = 0")
    assert render_email_html(empty.toPandas()) == ""


def test_quiet_day_resets_the_delta_baseline(spark, tmp_path):
    """A scrape that finds ZERO cards is a legal run (site outage,
    empty listing) and its partition IS the new baseline: the next
    day's delta must diff against the EMPTY yesterday (everything
    new again), never silently skip it and diff against the older
    populated day (which reported 0 new — the row-based prior-day
    discovery bug this pins)."""
    from aiesec_guc_spark.operators.snapshot import write_snapshot
    from aiesec_guc_spark.sources.fixtures import snapshot_pair as _pair

    data_dir, out_dir = str(tmp_path / "data"), str(tmp_path / "out")
    sent: list[str] = []

    s1 = run_pipeline(spark, data_dir, out_dir, "2026-08-12", send=sent.append)
    assert s1["delta_rows"] == 6

    # quiet day: the scraper returned nothing — its empty partition
    # still lands (write_snapshot handles zero rows since round 10)
    today_frame, _ = _pair(spark)
    write_snapshot(
        today_frame.limit(0),
        os.path.join(data_dir, "snapshots"),
        "2026-08-13",
    )

    s3 = run_pipeline(spark, data_dir, out_dir, "2026-08-14", send=sent.append)
    assert s3["delta_rows"] == 6  # vs the empty 08-13, NOT the full 08-12
    assert s3["notified"]


def test_stranded_retry_day_is_yesterday_of_the_next_day(spark, tmp_path, monkeypatch):
    """A retry of day D that crashes between its swap's two renames
    leaves D only as its hidden ``__old_`` copy.  The next day's run
    must heal D before it looks for its yesterday, and diff against D
    (nothing new), never against the older quiet day before it."""
    from aiesec_guc_spark.operators.snapshot import write_snapshot
    from aiesec_guc_spark.sources.fixtures import snapshot_pair as _pair

    data_dir, out_dir = str(tmp_path / "data"), str(tmp_path / "out")
    snap_path = os.path.join(data_dir, "snapshots")
    today_frame, _ = _pair(spark)
    write_snapshot(today_frame.limit(0), snap_path, "2026-08-12")  # quiet day
    assert run_pipeline(spark, data_dir, out_dir, "2026-08-13")["delta_rows"] == 6

    real_rename = os.rename
    renames = []

    def crash_on_second(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("simulated crash between the swap's renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second)
    with pytest.raises(OSError, match="simulated crash"):
        run_pipeline(spark, data_dir, out_dir, "2026-08-13")  # the retry
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(os.path.join(snap_path, "run_date=2026-08-13"))

    s = run_pipeline(spark, data_dir, out_dir, "2026-08-14")
    assert s["delta_rows"] == 0
    assert not s["notified"]
    assert sorted(os.listdir(snap_path)) == [
        "run_date=2026-08-12", "run_date=2026-08-13", "run_date=2026-08-14"
    ]
