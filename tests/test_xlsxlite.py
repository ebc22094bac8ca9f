"""The stdlib xlsx writer/reader (sinks/xlsxlite.py), the package's
one workbook codec: byte-real round trips, the reference's styling
contract (header fill, premium highlight, autofit = max length + 3 —
aiesec.py:148-183), and the report-sink integration that keeps S3/S6
on the genuine Excel path."""

from __future__ import annotations

import zipfile

from aiesec_guc_spark.sinks import xlsxlite
from aiesec_guc_spark.sinks.report import write_styled_report
from helpers import read_styles

COLS = ["opportunity_id", "title", "premium"]
ROWS = [
    ["1", "Data <Engineer> & \"Friend\"", "No"],
    ["2", "Multi\nline\ttitle", "Yes"],
    ["3", "Ünïcödé — em-dash", "No"],
    ["4", "", "Yes"],
]


def test_roundtrip_values_exact(tmp_path):
    p = str(tmp_path / "t.xlsx")
    xlsxlite.write_xlsx(p, COLS, ROWS, highlight_rows={1, 3})
    cols, rows = xlsxlite.read_xlsx(p)
    assert cols == COLS
    assert rows == ROWS


def test_is_a_real_zip_package_with_required_parts(tmp_path):
    p = str(tmp_path / "t.xlsx")
    xlsxlite.write_xlsx(p, COLS, ROWS)
    with zipfile.ZipFile(p) as z:
        names = set(z.namelist())
    assert {
        "[Content_Types].xml",
        "_rels/.rels",
        "xl/workbook.xml",
        "xl/worksheets/sheet1.xml",
        "xl/styles.xml",
    } <= names
    # inlineStr cells, matching the reference snapshot format
    with zipfile.ZipFile(p) as z:
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    assert 't="inlineStr"' in sheet


def test_styles_header_premium_autofit(tmp_path):
    p = str(tmp_path / "t.xlsx")
    xlsxlite.write_xlsx(p, COLS, ROWS, highlight_rows={1, 3})
    s = read_styles(p)
    # header row styled with the header xf
    for j in range(1, len(COLS) + 1):
        assert s["cell_styles"][f"{xlsxlite.col_letter(j)}1"] == xlsxlite.HEADER_STYLE
    # highlighted data rows (0-based 1,3 -> sheet rows 3,5) use the
    # premium xf across every cell; other rows the default
    assert s["cell_styles"]["A3"] == xlsxlite.PREMIUM_STYLE
    assert s["cell_styles"]["C5"] == xlsxlite.PREMIUM_STYLE
    assert s["cell_styles"]["A2"] == 0
    # autofit: width = longest cell in the column + 3
    longest_title = max(len(r[1]) for r in ROWS + [COLS[1:2] + [COLS[1]]])
    assert s["col_widths"][2] == max(longest_title, len("title")) + 3
    assert s["col_widths"][1] == len("opportunity_id") + 3


def test_col_letter_covers_two_letter_range():
    assert xlsxlite.col_letter(1) == "A"
    assert xlsxlite.col_letter(26) == "Z"
    assert xlsxlite.col_letter(27) == "AA"
    assert xlsxlite.col_letter(52) == "AZ"
    assert xlsxlite.col_letter(703) == "AAA"


def test_sparse_rows_pad_missing_cells(tmp_path):
    p = str(tmp_path / "sparse.xlsx")
    xlsxlite.write_xlsx(p, ["a", "b", "c"], [["1", None, "3"], ["4", "5", None]])
    cols, rows = xlsxlite.read_xlsx(p)
    assert cols == ["a", "b", "c"]
    assert rows == [["1", None, "3"], ["4", "5", None]]


def test_report_sink_writes_real_xlsx_and_reads_back(spark, tmp_path):
    """End-to-end through the report sink: actual xlsx bytes written
    and read by xlsxlite, N/A sentinels intact."""
    df = spark.createDataFrame(
        [("1", "T1", "N/A", "Yes"), ("2", "T2", "Org", "No")],
        "opportunity_id string, title string, organization string, premium string",
    )
    path = write_styled_report(df.toPandas(), str(tmp_path / "Today"))
    assert path.endswith(".xlsx")
    cols, rows = xlsxlite.read_xlsx(path)
    assert cols == df.columns
    assert {tuple(r) for r in rows} == {tuple(r) for r in df.collect()}


def test_row_wider_than_header_pads_header(tmp_path):
    # A data row with trailing unnamed cells is legal xlsx; the reader
    # must widen the header (positional names) instead of returning a
    # ragged matrix that breaks DataFrame construction downstream.
    p = str(tmp_path / "wide.xlsx")
    xlsxlite.write_xlsx(p, ["a", "b"], [["1", "2", "extra"], ["3", "4", None]])
    cols, rows = xlsxlite.read_xlsx(p)
    assert cols == ["a", "b", "_c2"]
    assert rows == [["1", "2", "extra"], ["3", "4", None]]


def test_empty_report_roundtrip(spark, tmp_path):
    # A count-guarded day with no delta still writes a (header-only)
    # report; reading it back must return the header columns and no
    # rows.
    p = str(tmp_path / "empty.xlsx")
    df = spark.createDataFrame(
        [], "opportunity_id string, title string, premium string"
    )
    write_styled_report(df.toPandas(), p)
    cols, rows = xlsxlite.read_xlsx(p)
    assert len(rows) == 0
    assert cols == ["opportunity_id", "title", "premium"]
