"""Minimal stdlib-only xlsx writer/reader — the package's one workbook
codec.  Every xlsx the sinks write or read (the styled report of
reference aiesec.py:148-183, S3/S6, and the snapshot edges in
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

The reader parses back inlineStr, sharedStrings, and plain numeric
cells, so it reads both this writer's output and workbooks written by
other tools (Excel, openpyxl, pandas).  Pure stdlib (zipfile +
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
<sheets><sheet name="{name}" sheetId="1" r:id="rId1"/></sheets>
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
    sheet_name: str = "Sheet1",
    highlight_rows: set[int] | None = None,
    autofit_pad: int = 3,
) -> str:
    """Write a styled single-sheet workbook: header row styled
    HEADER_STYLE, every cell of each 0-based data-row index in
    ``highlight_rows`` styled PREMIUM_STYLE, column widths = longest
    cell + ``autofit_pad`` (the reference's ``max_length + 3``).
    All values render as inlineStr of ``str(value)``."""
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
            f'<col min="{i}" max="{i}" width="{w + autofit_pad}" customWidth="1"/>'
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
        # escape() alone leaves double quotes intact, which would break
        # out of the name="..." attribute and corrupt the workbook.
        z.writestr(
            "xl/workbook.xml",
            _WORKBOOK.format(name=escape(sheet_name, {'"': "&quot;"})),
        )
        z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        z.writestr("xl/styles.xml", _STYLES)
        z.writestr("xl/worksheets/sheet1.xml", "".join(parts))
    return path


def _cell_text(c: ET.Element, shared: list[str]) -> str | None:
    t = c.get("t")
    if t == "inlineStr":
        node = c.find(f"{_NS}is")
        return "".join(e.text or "" for e in node.iter(f"{_NS}t")) if node is not None else ""
    v = c.find(f"{_NS}v")
    if v is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    return v.text


def _col_index(ref: str) -> int:
    """A1-style ref → 0-based column index."""
    i = 0
    for ch in ref:
        if ch.isalpha():
            i = i * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return i - 1


_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _sheet_part(z: "zipfile.ZipFile", sheet_name: str | None) -> str:
    """Resolve a sheet's worksheet part via xl/workbook.xml +
    xl/_rels/workbook.xml.rels — workbook ORDER and NAMES are defined
    there, not by part filenames (after sheet deletion or reorder the
    first visible sheet can be stored as sheet2.xml, and sheet10.xml
    sorts before sheet2.xml).  ``sheet_name=None`` means the first
    sheet in workbook order."""
    names = set(z.namelist())
    if "xl/workbook.xml" in names and "xl/_rels/workbook.xml.rels" in names:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_target = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(f"{_PKG_REL_NS}Relationship")
        }
        sheets = [
            (s.get("name"), s.get(f"{_REL_NS}id"))
            for s in wb.iter(f"{_NS}sheet")
        ]
        if sheets:
            if sheet_name is None:
                rid = sheets[0][1]
            else:
                match = [rid for nm, rid in sheets if nm == sheet_name]
                if not match:
                    raise ValueError(
                        f"sheet {sheet_name!r} not in workbook "
                        f"(has {[nm for nm, _ in sheets]})"
                    )
                rid = match[0]
            target = rel_target.get(rid, "")
            # Targets come in three spec-legal shapes: absolute from
            # the package root ("/xl/worksheets/sheet2.xml"),
            # package-rooted without the slash, or relative to xl/.
            # Misresolving one would fall through to the lexical
            # fallback and silently read the WRONG sheet.
            if target.startswith("/"):
                part = target[1:]
            elif target.startswith("xl/"):
                part = target
            else:
                part = f"xl/{target}"
            if part in names:
                return part
    # fallback for minimal workbooks without a rels part
    parts = sorted(
        n for n in names if n.startswith("xl/worksheets/") and n.endswith(".xml")
    )
    if not parts:
        raise ValueError("no worksheet part in workbook")
    return parts[0]


def read_xlsx(
    path: str, sheet_name: str | None = None
) -> tuple[list[str], list[list[str | None]]]:
    """Parse a workbook sheet → (columns, rows of str|None) —
    ``sheet_name=None`` reads the first sheet in WORKBOOK order
    (resolved via workbook.xml + its rels, never part-name order).
    Handles inlineStr (this writer), sharedStrings (openpyxl/pandas
    writers), and bare numeric cells."""
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = [
                "".join(t.text or "" for t in si.iter(f"{_NS}t"))
                for si in root.iter(f"{_NS}si")
            ]
        root = ET.fromstring(z.read(_sheet_part(z, sheet_name)))
    out: list[list[str | None]] = []
    for row in root.iter(f"{_NS}row"):
        cells: list[str | None] = []
        for c in row.iter(f"{_NS}c"):
            ref = c.get("r")
            # The r attribute is optional per spec: without it a cell
            # occupies the next position, never position -1.
            idx = _col_index(ref) if ref else len(cells)
            while len(cells) < idx:
                cells.append(None)
            cells.append(_cell_text(c, shared))
        out.append(cells)
    if not out:
        return [], []
    header = [v if v is not None else "" for v in out[0]]
    # Normalize symmetrically: a data row may be WIDER than the header
    # (trailing unnamed cells — legal xlsx); pad the header with
    # positional names so DataFrame construction never sees a ragged
    # matrix ([None] * negative would silently leave the row over-long).
    width = max(len(header), max((len(r) for r in out[1:]), default=0))
    header += [f"_c{i}" for i in range(len(header), width)]
    rows = [r + [None] * (width - len(r)) for r in out[1:]]
    return header, rows


def read_styles(path: str) -> dict:
    """Style audit for tests: per-cell style ids of the first sheet
    plus the declared column widths — enough to assert the header
    fill, premium highlight, and autofit survived the round trip."""
    with zipfile.ZipFile(path) as z:
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    cell_styles: dict[str, int] = {}
    for c in root.iter(f"{_NS}c"):
        cell_styles[c.get("r", "")] = int(c.get("s", "0"))
    widths = {
        int(col.get("min")): float(col.get("width"))
        for col in root.iter(f"{_NS}col")
    }
    return {"cell_styles": cell_styles, "col_widths": widths}
