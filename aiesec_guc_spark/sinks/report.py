"""Presentation sinks (reference S3/S6/S7/F8) — driver-side by
nature: the day's rows are collected once and every presentation
artifact is built from that pandas frame, as the reference builds its
workbook and email from the frame it holds (aiesec.py:145-251).

- ``render_cards_html`` / ``render_email_html``: the per-row HTML card
  template (aiesec.py:188-233) joined into the notification body.
- ``write_styled_report``: the styled-Excel report (aiesec.py:148-183)
  with its header fill, premium highlight and autofit.
- ``read_snapshot_xlsx`` / ``write_snapshot_partitioned`` /
  ``read_snapshot_dir``: the xlsx snapshot edges, driver-side and
  per-partition.  Every workbook is written and read by one codec,
  the stdlib-only ``sinks/xlsxlite.py``; a ``.csv`` path is the only
  other format.
- ``notify_if_nonempty``: the guarded send (aiesec.py:236-251) with
  the transport injected (no SMTP here; the default logs).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

from . import xlsxlite

if TYPE_CHECKING:
    import pandas as pd

log = logging.getLogger(__name__)

CARD_TEMPLATE = (
    '<div class="card"><h3><a href="%s">%s</a></h3>'
    "<p>%s · %s · %s</p>%s</div>"
)
_CARD_FIELDS = ("opportunity_link", "title", "organization", "country", "duration")
_PREMIUM_BADGE = '<span class="badge">Premium</span>'

EMAIL_DOC_TEMPLATE = (
    "<!DOCTYPE html>\n<html>\n<head>\n"
    '  <meta charset="UTF-8">\n'
    "  <title>New Opportunities</title>\n"
    "</head>\n<body>\n{cards}\n</body>\n</html>"
)


def render_cards_html(pdf: pd.DataFrame) -> str:
    """The delta's cards, one per row, joined by newlines ("" when the
    frame is empty).  A null field renders as "null", as Spark's
    ``format_string`` did."""
    return "\n".join(
        CARD_TEMPLATE
        % (
            *("null" if r[c] is None else r[c] for c in _CARD_FIELDS),
            _PREMIUM_BADGE if r["premium"] == "Yes" else "",
        )
        for r in pdf.to_dict("records")
    )


def render_email_html(pdf: pd.DataFrame) -> str:
    """Complete email HTML document (head/charset/title wrapping the
    cards), matching the reference's full-document body
    (aiesec.py:221-233) rather than bare concatenated cards.  Returns
    "" when the delta is empty so the guard still works."""
    cards = render_cards_html(pdf)
    if not cards:
        return ""
    return EMAIL_DOC_TEMPLATE.format(cards=cards)


def write_styled_report(pdf: pd.DataFrame, path: str) -> str:
    """Small-result edge sink: a styled xlsx written by ``xlsxlite``
    with the reference's header fill / premium highlight / autofit
    (aiesec.py:148-183).  An explicit ``.csv`` path still writes CSV.
    Returns the path written."""
    if path.endswith(".csv"):
        pdf.to_csv(path, index=False)
        return path
    xlsx = path if path.endswith(".xlsx") else path + ".xlsx"
    highlight = (
        {i for i, v in enumerate(pdf["premium"]) if v == "Yes"}
        if "premium" in pdf.columns
        else set()
    )
    return xlsxlite.write_xlsx(
        xlsx, list(pdf.columns), pdf.values.tolist(), highlight_rows=highlight
    )


def _xlsx_frame(path: str, sheet_name: str | None = None):
    """One worksheet as an all-strings pandas frame.  Empty cells read
    back as "" (never the stringified "None"), so "N/A" sentinels and
    blanks round-trip exactly."""
    import pandas as pd

    cols, rows = xlsxlite.read_xlsx(path, sheet_name=sheet_name)
    rows = [["" if v is None else v for v in r] for r in rows]
    return pd.DataFrame(rows, columns=cols).astype(str)


def read_snapshot_xlsx(spark, path: str, sheet_name: str = "Sheet1") -> DataFrame:
    """Excel snapshot *source* (reference S4, aiesec.py:137): load a
    written snapshot back as a DataFrame with every column string-typed
    (the reference's all-strings schema, SURVEY.md §1.2).

    Edge-format reader by design: xlsx is a small presentation
    artifact, so a driver-side ``xlsxlite`` read → ``createDataFrame``
    is the right shape; the canonical at-scale snapshot store is the
    run_date-partitioned parquet table (operators/snapshot.py).

    Mirrors ``write_styled_report``: a ``.csv`` path reads via
    ``pd.read_csv``.  ``"N/A"`` sentinels are kept as literal strings
    so a write→read round-trip is lossless — unlike the reference,
    whose default pandas NA coercion silently turns them into NaN.
    """
    import pandas as pd

    if path.endswith(".csv"):
        pdf = pd.read_csv(path, dtype=str, keep_default_na=False).astype(str)
    else:
        pdf = _xlsx_frame(path, sheet_name)
    # Explicit all-strings schema: inference reads it from the DATA,
    # so a legitimately empty snapshot (count-guarded day with no
    # delta) raised CANNOT_INFER_EMPTY_SCHEMA instead of returning the
    # header-typed empty frame.
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(str(c), T.StringType(), True) for c in pdf.columns]
    )
    return spark.createDataFrame(pdf, schema=schema)


def write_snapshot_partitioned(df: DataFrame, out_dir: str) -> DataFrame:
    """Distributed presentation snapshot: one workbook PER PARTITION,
    written by executors via ``mapInPandas`` — the scale path that
    ``write_styled_report`` (driver-side collect, presentation edge)
    deliberately doesn't take.  Writes EAGERLY (this call runs the
    job) and returns the materialized manifest (file, n_rows) as a
    small local DataFrame — O(#partitions) rows, the one acceptable
    driver-side manifest collect for a file sink.

    The row data never moves to the driver: each executor writes
    ``part-{partition_id:05d}.xlsx`` for its slice into ``out_dir``
    (local dir here; a shared filesystem on a real cluster — same
    contract as every Spark file sink).  Size the partitions with
    ``df.repartition(n)`` before calling: xlsx has a hard 1,048,576-row
    sheet cap and the writer builds each sheet in memory, so ~100k
    rows per partition is the practical ceiling.

    Each part is a styled-header workbook written by ``xlsxlite``, the
    same codec as ``write_styled_report``.  The per-row premium
    highlight is skipped on purpose — it is an O(cells) driver-format
    concern for small reports, not a bulk snapshot feature.
    """
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    schema = "file string, n_rows long"
    # Internal manifest carries the attempt-unique tmp name so the
    # driver can promote exactly the WINNING attempt's file (Spark
    # keeps one attempt's output rows; a retried/speculative loser's
    # tmp would race a shared name) — stripped before returning.
    schema_internal = schema + ", tmp string"

    def _write(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        path = os.path.join(out_dir, f"part-{pid:05d}.xlsx")
        # Tasks write to an attempt-unique .tmp name; the driver
        # promotes every part only after the WHOLE job succeeds.
        # In-place writes left a partially-failed rerun as a silent
        # mixed-generation directory: tasks that finished before the
        # failure had already overwritten their same-named parts, so
        # the reader unioned today's parts 0-2 with yesterday's
        # part 3 and nothing looked wrong.
        tmp = f"{path}.{ctx.taskAttemptId()}.tmp"
        xlsxlite.write_xlsx(tmp, list(pdf.columns), pdf.values.tolist())
        yield pd.DataFrame(
            {"file": [path], "n_rows": [len(pdf)], "tmp": [tmp]}
        )

    # Write to .tmp FIRST, promote + clean stale parts only AFTER the
    # job succeeds: deleting up front tied to a lazy manifest
    # destroyed the previous snapshot the moment the manifest was
    # BUILT, with nothing replacing it until (unless) the caller ran
    # an action, and in-place overwrites left a partially-failed
    # rerun as a mixed-generation directory (see _write).  With
    # tmp-then-promote, a failed job leaves only dead .tmp files
    # beside the intact previous snapshot (read_snapshot_dir matches
    # .xlsx/.csv only), and a successful one atomically-per-file
    # renames every new part before removing the leftovers (a wider
    # previous run's extra parts, which read_snapshot_dir would
    # otherwise silently union with today's rows — same
    # REPLACE-on-rerun contract as write_snapshot's partition
    # overwrite).
    manifest = df.mapInPandas(_write, schema=schema_internal).collect()
    for r in manifest:
        os.replace(r.tmp, r.file)
    written = {os.path.basename(r.file) for r in manifest}
    for stale in os.listdir(out_dir):
        full = os.path.join(out_dir, stale)
        if stale.endswith(".tmp") and stale.startswith("part-"):
            os.remove(full)  # losers/orphans from failed attempts
        elif (
            stale.startswith("part-")
            and stale.endswith((".xlsx", ".csv"))
            and stale not in written
        ):
            os.remove(full)
    return df.sparkSession.createDataFrame(
        [(r.file, r.n_rows) for r in manifest], schema=schema
    )


def read_snapshot_dir(spark, path: str) -> DataFrame:
    """Read a ``write_snapshot_partitioned`` directory back,
    distributed: the file list parallelizes across executors and each
    file is parsed worker-side (``xlsxlite`` or pandas CSV) — no
    driver-side row funnel.  Handles both part formats (.xlsx/.csv); all columns come
    back string-typed (the reference's all-strings schema, same
    contract as ``read_snapshot_xlsx``), with "N/A" sentinels kept as
    literal strings."""
    import pandas as pd

    def _read_one(f: str) -> "pd.DataFrame":
        if f.endswith(".csv"):
            return pd.read_csv(f, dtype=str, keep_default_na=False)
        return _xlsx_frame(f)

    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith((".xlsx", ".csv"))
    )
    if not files:
        raise FileNotFoundError(f"no .xlsx/.csv part files under {path}")
    # Columns from one file's header row (driver reads ONE header, not
    # the data); every part file shares the writer's schema.
    if files[0].endswith(".csv"):
        cols = list(pd.read_csv(files[0], dtype=str, nrows=0).columns)
    else:
        cols, _ = xlsxlite.read_xlsx(files[0])
    schema = ", ".join(f"`{c}` string" for c in cols)

    def _read(batches):
        for pdf in batches:
            for f in pdf["file"]:
                yield _read_one(f)[cols]

    flist = spark.createDataFrame([(f,) for f in files], "file string").repartition(
        min(len(files), 32)
    )
    return flist.mapInPandas(_read, schema=schema)


def notify_if_nonempty(body: str, send: Callable[[str], None] | None = None) -> bool:
    """The reference's guarded send: deliver ``body`` iff it is
    non-empty; returns whether a notification went out."""
    if not body:
        log.info("no new opportunities found — notification skipped")
        return False
    (send or (lambda b: log.info("notification body:\n%s", b)))(body)
    return True
