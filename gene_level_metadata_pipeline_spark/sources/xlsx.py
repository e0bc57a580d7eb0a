"""Minimal pure-stdlib XLSX reader (the engine's only Excel path: no
Excel engine is needed, so a workbook parses the same everywhere).

XLSX is a zip of XML parts; this reads the workbook sheet list, the shared
strings table, and one worksheet's cell grid — enough for the reference's
manuscript-supplement sheets (IM:9-27: sheet by index/name, startRow,
rectangular data). Not a general Excel implementation: formulas are read
as their cached values, no styles/dates/merged-cell semantics.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree

NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

__all__ = ["read_xlsx_rows", "sheet_names"]


def _col_index(ref: str) -> int:
    """'A1' → 0, 'BC12' → 54 (0-based column index)."""
    letters = re.match(r"[A-Z]+", ref).group(0)
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def sheet_names(path: str) -> list[str]:
    with zipfile.ZipFile(path) as zf:
        wb = ElementTree.fromstring(zf.read("xl/workbook.xml"))
        return [s.get("name") for s in wb.iter(f"{NS}sheet")]


def _sheet_target(zf: zipfile.ZipFile, sheet: int | str) -> str:
    wb = ElementTree.fromstring(zf.read("xl/workbook.xml"))
    sheets = list(wb.iter(f"{NS}sheet"))
    if isinstance(sheet, str):
        matches = [s for s in sheets if s.get("name") == sheet]
        if not matches:
            raise ValueError(f"no sheet named {sheet!r}; have "
                             f"{[s.get('name') for s in sheets]}")
        rid = matches[0].get(f"{REL_NS}id")
    else:
        rid = sheets[sheet].get(f"{REL_NS}id")
    rels = ElementTree.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    for rel in rels.iter(f"{PKG_REL_NS}Relationship"):
        if rel.get("Id") == rid:
            target = rel.get("Target")
            return target if target.startswith("xl/") else f"xl/{target}"
    raise ValueError(f"workbook relationship {rid} not found")


def read_xlsx_rows(path: str, sheet: int | str = 0, skip: int = 0) -> list[list]:
    """Rectangular cell grid of one sheet as a list of rows.

    Cell values: shared/inline strings → str, numbers → float (integral
    ones too), booleans → bool, empty → None. ``skip`` drops leading rows
    (openxlsx ``startRow-1``). Rows are padded to the widest row.
    """
    with zipfile.ZipFile(path) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            sst = ElementTree.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in sst.iter(f"{NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{NS}t")))
        ws = ElementTree.fromstring(zf.read(_sheet_target(zf, sheet)))
        rows: list[list] = []
        for row in ws.iter(f"{NS}row"):
            # honor the row-number attribute: writers omit fully-blank rows
            # from the XML, and skip/startRow must land on the same rows
            # openxlsx's startRow (which honors indices) would use
            rnum = row.get("r")
            if rnum is not None:
                while len(rows) < int(rnum) - 1:
                    rows.append([])
            cells: dict[int, object] = {}
            next_idx = 0  # cells without an 'r' ref are positioned sequentially
            for c in row.iter(f"{NS}c"):
                ref, ctype = c.get("r"), c.get("t", "n")
                v = c.find(f"{NS}v")
                is_node = c.find(f"{NS}is")
                if ctype == "s" and v is not None:
                    val: object = shared[int(v.text)]
                elif ctype == "inlineStr" and is_node is not None:
                    val = "".join(t.text or "" for t in is_node.iter(f"{NS}t"))
                elif ctype in ("str", "e") and v is not None:
                    # cached string formula result / error literal → string
                    val = v.text
                elif ctype == "b" and v is not None:
                    val = v.text == "1"
                elif v is not None and v.text is not None:
                    # always float: mixed int/float in one column would break
                    # Spark's schema merge (CANNOT_MERGE_TYPE Long vs Double);
                    # R's openxlsx reads numerics as double too
                    val = float(v.text)
                else:
                    val = None
                idx = _col_index(ref) if ref is not None else next_idx
                cells[idx] = val
                next_idx = idx + 1
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i) for i in range(width)])
    rows = rows[skip:]
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]
