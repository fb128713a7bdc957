"""Dependency-free xlsx read/write (stdlib zipfile + ElementTree).

An .xlsx file is a zip of XML parts (ECMA-376 / ISO 29500
SpreadsheetML — a public format). This module implements the minimal
subset the engine needs so Excel ingest/export works in runtimes
without openpyxl: shared and inline strings, numbers, booleans, and
formula cached values on read; inline strings + numbers on write.
Not supported (documented, not silent): styles, dates-as-numbers
(returned as raw serial numbers), merged-cell fills, formulas
(cached value is used).

Everything is driver-side by design — workbooks are KB-sized inputs;
the distributed engine starts after sheets become frames.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

import pandas as pd

NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
NS_REL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
NS_PKG = "{http://schemas.openxmlformats.org/package/2006/relationships}"

_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 …"""
    out = 0
    for ch in ref:
        out = out * 26 + (ord(ch) - 64)
    return out - 1


def _cell_value(c, shared: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        return "".join(x.text or "" for x in c.iter(f"{NS}t")) or None
    v = c.find(f"{NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "str":
        return v.text
    if t == "b":
        return v.text == "1"
    if t == "e":
        # error-typed cell (#DIV/0!, #N/A, ...) — real Excel output
        # contains these; surface as missing, not a crash
        return None
    try:
        return int(v.text)
    except ValueError:
        try:
            return float(v.text)
        except ValueError:
            # ISO-date cells (t="d") and any other non-numeric text:
            # return the raw text rather than raising mid-workbook
            return v.text


def read_workbook_xlsx(file_path: str) -> dict[str, pd.DataFrame]:
    """Every sheet as a raw header-less frame (positional columns),
    matching ``pd.read_excel(..., sheet_name=None, header=None)``."""
    with zipfile.ZipFile(file_path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.iter(f"{NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{NS}t")))
        rels = {}
        if "xl/_rels/workbook.xml.rels" in z.namelist():
            for rel in ET.fromstring(z.read("xl/_rels/workbook.xml.rels")).iter(
                f"{NS_PKG}Relationship"
            ):
                target = rel.get("Target")
                if target.startswith("/"):
                    target = target[1:]
                elif not target.startswith("xl/"):
                    target = "xl/" + target
                rels[rel.get("Id")] = target
        out: dict[str, pd.DataFrame] = {}
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        for sheet in wb.iter(f"{NS}sheet"):
            name = sheet.get("name")
            part = rels.get(sheet.get(f"{NS_REL}id"))
            if part is None or part not in z.namelist():
                continue
            rows: dict[int, dict[int, object]] = {}
            max_col = -1
            ws = ET.fromstring(z.read(part))
            for row in ws.iter(f"{NS}row"):
                r_idx = int(row.get("r", len(rows) + 1)) - 1
                cells = rows.setdefault(r_idx, {})
                auto_col = 0
                for c in row.iter(f"{NS}c"):
                    ref = c.get("r")
                    if ref:
                        m = _CELL_REF.match(ref)
                        col = _col_index(m.group(1)) if m else auto_col
                    else:
                        col = auto_col
                    auto_col = col + 1
                    val = _cell_value(c, shared)
                    if val is not None:
                        cells[col] = val
                        max_col = max(max_col, col)
            n_rows = (max(rows) + 1) if rows else 0
            data = [
                [rows.get(r, {}).get(c) for c in range(max_col + 1)]
                for r in range(n_rows)
            ]
            # object columns keep each cell's own type: a numeric column
            # would upcast a year header 2010 over float cells to 2010.0
            out[name] = pd.DataFrame(data, dtype=object)
    return out


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _col_letter(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def write_workbook_xlsx(
    file_path: str, sheets: dict[str, pd.DataFrame], header: bool = True
) -> str:
    """Write frames as one xlsx (inline strings + numbers). Column
    names become the first row when *header* is set."""
    ct_overrides = []
    sheet_entries = []
    rel_entries = []
    parts: dict[str, str] = {}
    for i, (name, df) in enumerate(sheets.items(), start=1):
        part = f"xl/worksheets/sheet{i}.xml"
        ct_overrides.append(
            f'<Override PartName="/{part}" ContentType="application/vnd.'
            f'openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        )
        sheet_entries.append(
            f'<sheet name="{_xml_escape(str(name))}" sheetId="{i}" r:id="rId{i}"/>'
        )
        rel_entries.append(
            f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i}.xml"/>'
        )
        body = []
        matrix = []
        if header:
            matrix.append(list(df.columns))
        matrix.extend(df.itertuples(index=False, name=None))
        for r, row in enumerate(matrix, start=1):
            cells = []
            for j, v in enumerate(row):
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    continue
                ref = f"{_col_letter(j)}{r}"
                if isinstance(v, bool):
                    cells.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
                elif isinstance(v, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                        f"{_xml_escape(str(v))}</t></is></c>"
                    )
            body.append(f'<row r="{r}">' + "".join(cells) + "</row>")
        parts[part] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{NS[1:-1]}"><sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        )

    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(ct_overrides)
        + "</Types>"
    )
    parts["_rels/.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{NS_PKG[1:-1]}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    parts["xl/workbook.xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{NS[1:-1]}" xmlns:r="{NS_REL[1:-1]}"><sheets>'
        + "".join(sheet_entries)
        + "</sheets></workbook>"
    )
    parts["xl/_rels/workbook.xml.rels"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{NS_PKG[1:-1]}">'
        + "".join(rel_entries)
        + "</Relationships>"
    )
    with zipfile.ZipFile(file_path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, content in parts.items():
            z.writestr(name, content)
    return file_path
