"""Minimal stdlib .xlsx codec (OOXML SpreadsheetML, ECMA-376).

The reference's front door is ``pd.read_excel(sheet_name=None,
header=None)`` (reference app.py:67) via openpyxl. Excel workbooks are
driver-side artifacts by nature — a zip container is not splittable and
the reference's sheets are thousands of rows — so the engine reads them
on the driver and hands each sheet to Spark as an Arrow local relation
(:mod:`ingest`). This module is the engine's only workbook codec: the
read (:mod:`ingest`) and the write (the 3-sheet report, reference
app.py:155-167, and test fixtures), with nothing but ``zipfile`` +
``xml.etree`` — no openpyxl or xlsxwriter.

Cell fidelity: every value is surfaced as a string (or None for empty
cells), matching the engine's stringly-typed ingest contract
(SURVEY.md §1.2 — "everything is a string until proven otherwise");
numeric cells keep their stored lexical form.
"""

from __future__ import annotations

import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_SHEET_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_ATTR = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)


def _col_index(cell_ref: str) -> int:
    """'A1' -> 0, 'AB12' -> 27."""
    idx = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _text_of(elem: ET.Element) -> str:
    """Concatenated <t> descendants (handles rich-text runs)."""
    return "".join(t.text or "" for t in elem.iter(f"{_SHEET_NS}t"))


def _cell_value(c: ET.Element, shared: list[str]) -> str | None:
    ctype = c.get("t", "n")
    if ctype == "inlineStr":
        is_el = c.find(f"{_SHEET_NS}is")
        return _text_of(is_el) if is_el is not None else None
    v = c.find(f"{_SHEET_NS}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return shared[int(v.text)]
    if ctype == "b":
        return "TRUE" if v.text.strip() == "1" else "FALSE"
    return v.text  # n / str: keep the stored lexical form


def read_xlsx_sheets(path: str) -> dict[str, list[list[str | None]]]:
    """All sheets of an .xlsx as {name: rows}, no header interpretation
    (the caller promotes headers — reference app.py:126-129), ragged
    rows padded with None to the sheet's max width."""
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = [_text_of(si) for si in sst.iter(f"{_SHEET_NS}si")]

        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_target = {
            r.get("Id"): r.get("Target").lstrip("/")
            for r in rels.iter(
                "{http://schemas.openxmlformats.org/package/2006/relationships}"
                "Relationship"
            )
        }

        sheets: dict[str, list[list[str | None]]] = {}
        for sh in wb.iter(f"{_SHEET_NS}sheet"):
            target = rel_target[sh.get(_REL_ATTR)]
            if not target.startswith("xl/"):
                target = f"xl/{target}"
            root = ET.fromstring(z.read(target))
            rows: list[list[str | None]] = []
            width = 0
            for row in root.iter(f"{_SHEET_NS}row"):
                cells: list[str | None] = []
                for c in row.iter(f"{_SHEET_NS}c"):
                    ci = _col_index(c.get("r", ""))
                    while len(cells) <= ci:
                        cells.append(None)
                    cells[ci] = _cell_value(c, shared)
                width = max(width, len(cells))
                rows.append(cells)
            for r in rows:
                r.extend([None] * (width - len(r)))
            sheets[sh.get("name")] = rows
    return sheets


def _cell_xml(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{1 if value else 0}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    return (
        f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
        f"{escape(str(value))}</t></is></c>"
    )


def _col_ref(idx: int) -> str:
    ref = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        ref = chr(ord("A") + rem) + ref
    return ref


def write_xlsx(path: str, sheets: dict[str, list[list]]) -> None:
    """Write a minimal valid workbook (inline strings, no styles/shared
    strings) — enough for this codec, openpyxl, pandas, and Excel."""
    names = list(sheets)
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        + "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        "<sheets>"
        + "".join(
            f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, n in enumerate(names)
        )
        + "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, name in enumerate(names):
            body = "".join(
                '<row r="%d">%s</row>'
                % (
                    ri + 1,
                    "".join(
                        _cell_xml(f"{_col_ref(ci)}{ri + 1}", v)
                        for ci, v in enumerate(row)
                    ),
                )
                for ri, row in enumerate(sheets[name])
            )
            z.writestr(
                f"xl/worksheets/sheet{i + 1}.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f"<sheetData>{body}</sheetData></worksheet>",
            )
