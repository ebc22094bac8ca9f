"""Minimal stdlib-only xlsx writer/reader — the package's one workbook
codec.  Every xlsx the sinks write (the styled report of reference
aiesec.py:148-183, S3/S6, and the snapshot edges in
``sinks/report.py``) goes through this module; there is no second
(openpyxl or pandas) Excel path.

An .xlsx file is a zip of XML parts (ECMA-376 / ISO 29500
SpreadsheetML — public spec).  This module implements exactly the
slice the reference's report needs:

- one worksheet, every cell an ``inlineStr`` (the reference's
  all-strings snapshot schema, SURVEY.md §1.2 — no sharedStrings
  indirection to build);
- a bold-white-on-#1F4E79 header row and a #FFFF00 premium-row
  highlight (two cellXfs beyond the default);
- column autofit widths = longest cell + 3 (aiesec.py:175-181).

The reader parses back exactly what the writer writes: the one sheet
part, inlineStr cells and empty (None) cells.  Pure stdlib (zipfile +
ElementTree); no third-party imports anywhere.
"""

from __future__ import annotations

import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
</Relationships>"""

#: style ids: 0 = default, 1 = header (bold white on 1F4E79),
#: 2 = premium highlight (FFFF00).  Fill slots 0/1 are the mandated
#: none/gray125 defaults — custom fills start at index 2.
_STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<fonts count="2">
<font><sz val="11"/><name val="Calibri"/></font>
<font><b/><color rgb="FFFFFFFF"/><sz val="11"/><name val="Calibri"/></font>
</fonts>
<fills count="4">
<fill><patternFill patternType="none"/></fill>
<fill><patternFill patternType="gray125"/></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FF1F4E79"/></patternFill></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FFFFFF00"/></patternFill></fill>
</fills>
<borders count="1"><border/></borders>
<cellStyleXfs count="1"><xf/></cellStyleXfs>
<cellXfs count="3">
<xf xfId="0"/>
<xf fontId="1" fillId="2" applyFont="1" applyFill="1" xfId="0"/>
<xf fillId="3" applyFill="1" xfId="0"/>
</cellXfs>
</styleSheet>"""

HEADER_STYLE = 1
PREMIUM_STYLE = 2
#: autofit width = longest cell + this (the reference's ``max_length + 3``)
AUTOFIT_PAD = 3


def col_letter(i: int) -> str:
    """1-based column index → A1-style letters."""
    s = ""
    while i > 0:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(
    path: str,
    columns: list[str],
    rows: list[list],
    highlight_rows: set[int] | None = None,
) -> str:
    """Write a styled single-sheet workbook: header row styled
    HEADER_STYLE, every cell of each 0-based data-row index in
    ``highlight_rows`` styled PREMIUM_STYLE, column widths = longest
    cell + AUTOFIT_PAD.  All values render as inlineStr of
    ``str(value)``, and None as an empty cell."""
    highlight = highlight_rows or set()
    widths = [len(str(c)) for c in columns]
    for r in rows:
        for j, v in enumerate(r):
            if v is not None and j < len(widths):
                widths[j] = max(widths[j], len(str(v)))

    def cell(ref: str, v, style: int) -> str:
        s = f' s="{style}"' if style else ""
        if v is None:
            return f'<c r="{ref}"{s}/>'
        txt = escape(str(v))
        return (
            f'<c r="{ref}" t="inlineStr"{s}>'
            f'<is><t xml:space="preserve">{txt}</t></is></c>'
        )

    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">',
        "<cols>"
        + "".join(
            f'<col min="{i}" max="{i}" width="{w + AUTOFIT_PAD}" customWidth="1"/>'
            for i, w in enumerate(widths, start=1)
        )
        + "</cols>",
        "<sheetData>",
        "<row r=\"1\">"
        + "".join(
            cell(f"{col_letter(j)}1", c, HEADER_STYLE)
            for j, c in enumerate(columns, start=1)
        )
        + "</row>",
    ]
    for i, r in enumerate(rows):
        rn = i + 2
        style = PREMIUM_STYLE if i in highlight else 0
        parts.append(
            f'<row r="{rn}">'
            + "".join(
                cell(f"{col_letter(j)}{rn}", v, style)
                for j, v in enumerate(r, start=1)
            )
            + "</row>"
        )
    parts.append("</sheetData></worksheet>")

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        z.writestr("xl/styles.xml", _STYLES)
        z.writestr("xl/worksheets/sheet1.xml", "".join(parts))
    return path


def _cell_text(c: ET.Element) -> str | None:
    node = c.find(f"{_NS}is")
    if node is None:
        return None
    return "".join(e.text or "" for e in node.iter(f"{_NS}t"))


def read_xlsx(path: str) -> tuple[list[str], list[list[str | None]]]:
    """Parse a workbook ``write_xlsx`` wrote → (columns, rows of
    str|None).  The writer writes every cell of a row, None ones as
    empty cells, so a cell's position is its column."""
    with zipfile.ZipFile(path) as z:
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    out = [[_cell_text(c) for c in row.iter(f"{_NS}c")] for row in root.iter(f"{_NS}row")]
    header = [v if v is not None else "" for v in out[0]]
    # Normalize symmetrically: a data row may be WIDER than the header
    # (trailing unnamed cells — legal xlsx); pad the header with
    # positional names so DataFrame construction never sees a ragged
    # matrix ([None] * negative would silently leave the row over-long).
    width = max(len(header), max((len(r) for r in out[1:]), default=0))
    header += [f"_c{i}" for i in range(len(header), width)]
    rows = [r + [None] * (width - len(r)) for r in out[1:]]
    return header, rows
