"""S4 — Excel readers (xlsx, xls and ods), all on the stdlib.

Reference: utils/reader.py:31-41,60-66 iterates ``openpyxl`` /
``xlrd`` rows on ``sheet_name``, skipping ``header_row_idx`` rows; the
files are capped at 12.5-50 MB (config_default.toml:54-55), so a
driver-side read → ``spark.createDataFrame`` is the honest mapping — the
parallel path at scale is converting the workbook to CSV/parquet once and
scanning that.

Each format has one reader. ``.xlsx`` is a zip of XML parts, and the
subset the open-data pipeline needs (shared strings, inline strings,
numbers, booleans, sheet selection by name) parses with stdlib
``zipfile`` + ElementTree here. ``.xls`` (binary BIFF8) goes to the OLE2+
BIFF parser in ``sources/biff.py`` and ``.ods`` to
``sources/ods_reader.py``. An xlsx/xls date cell comes back as its
serial number, the same on every machine.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_CELL_COL_RE = re.compile(r"([A-Z]+)\d+$")


def _col_index(cell_ref: str) -> int:
    """'C7' → 2 (zero-based column)."""
    m = _CELL_COL_RE.match(cell_ref)
    if m is None:
        raise ValueError(f"malformed cell reference {cell_ref!r}")
    letters = m.group(1)
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def iter_xlsx_rows_stdlib(path: str, sheet_name: str | None = None):
    """Minimal xlsx row iterator on stdlib zipfile + ElementTree.

    Handles the cell types real open-data workbooks use: shared strings
    (t="s"), inline strings (t="inlineStr"), booleans (t="b" → True/False),
    numbers/dates-as-serials (raw <v> text), and blank cells (positional
    gaps filled with None via the cell reference). Formulas yield their
    cached <v> value — same behavior as openpyxl ``data_only=True``.
    """
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_target = {r.get("Id"): r.get("Target") for r in rels}
        sheets = wb.find(f"{_XLSX_NS}sheets")
        if sheets is None:
            raise ValueError(f"workbook.xml has no <sheets> element: {path}")
        target = None
        for s in sheets:
            t = rel_target[s.get(f"{_REL_NS}id")]
            t = t if t.startswith("xl/") else f"xl/{t.lstrip('/')}"
            if sheet_name is None or s.get("name") == sheet_name:
                target = t
                break
        if target is None:
            raise ValueError(f"sheet {sheet_name!r} not found in {path}")

        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = [
                "".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t"))
                for si in sst.iter(f"{_XLSX_NS}si")
            ]

        ws = ET.fromstring(z.read(target))
        for row in ws.iter(f"{_XLSX_NS}row"):
            cells: dict[int, object] = {}
            next_idx = 0  # cells may legally omit r= — fall back to position
            for c in row.iter(f"{_XLSX_NS}c"):
                ref = c.get("r")
                idx = _col_index(ref) if ref is not None else next_idx
                next_idx = idx + 1
                ctype = c.get("t", "n")
                v = c.find(f"{_XLSX_NS}v")
                if ctype == "s":
                    if v is None or v.text is None:
                        raise ValueError(
                            f"shared-string cell {ref!r} has no <v> index: {path}"
                        )
                    cells[idx] = shared[int(v.text)]
                elif ctype == "inlineStr":
                    cells[idx] = "".join(t.text or "" for t in c.iter(f"{_XLSX_NS}t"))
                elif ctype == "b":
                    cells[idx] = v is not None and v.text == "1"
                else:
                    cells[idx] = None if v is None else v.text
            width = max(cells) + 1 if cells else 0
            yield [cells.get(i) for i in range(width)]


def iter_excel_rows(
    path: str,
    sheet_name: str | None = None,
    header_row_idx: int = 0,
    fmt: str | None = None,
):
    """Yield rows (lists of cell values) past the header offset —
    utils/reader.py:31-41 semantics. Dispatches on extension
    (case-insensitive, matching inspect_tabular's routing); ``fmt``
    ('xlsx'/'xls') overrides it for magic-sniffed payloads whose extension
    lies (the reference routes by detected format, utils/csv.py:24-31).

    Typed-error boundary (the crawl path feeds DOWNLOADED workbooks in
    here — truncated transfers and mislabeled payloads are routine):
    corrupt containers surface as ValueError, never a raw BadZipFile /
    KeyError / ParseError / struct.error out of the zip/XML/CFB layers."""
    import struct as _struct
    import zlib as _zlib

    corrupt = (
        zipfile.BadZipFile,
        KeyError,
        ET.ParseError,
        _struct.error,
        IndexError,
        EOFError,
        _zlib.error,
        UnicodeDecodeError,
    )
    try:
        yield from _iter_excel_rows_impl(
            path, sheet_name=sheet_name, header_row_idx=header_row_idx, fmt=fmt
        )
    except corrupt as e:
        raise ValueError(
            f"corrupt or non-excel payload {path!r} "
            f"({type(e).__name__}: {e})"
        ) from e
    except OSError as e:
        import errno as _errno

        if e.errno == _errno.EINVAL:
            # zipfile seeks beyond EOF on truncated central directories
            # and raises EINVAL — corruption, not an IO fault; real IO
            # errors (ENOENT, EACCES, EIO...) still propagate as OSError
            raise ValueError(
                f"corrupt or non-excel payload {path!r} (truncated archive)"
            ) from e
        raise


def _iter_excel_rows_impl(
    path: str,
    sheet_name: str | None = None,
    header_row_idx: int = 0,
    fmt: str | None = None,
):
    lower = f".{fmt}" if fmt else path.lower()
    if lower.endswith(".xlsx"):
        for i, row in enumerate(iter_xlsx_rows_stdlib(path, sheet_name=sheet_name)):
            if i < header_row_idx:
                continue
            yield list(row)
    elif lower.endswith(".xls"):
        from udata_datalake_service_spark.sources.biff import iter_xls_rows_stdlib

        for i, row in enumerate(iter_xls_rows_stdlib(path, sheet_name=sheet_name)):
            if i < header_row_idx:
                continue
            yield list(row)
    elif lower.endswith(".ods"):
        from udata_datalake_service_spark.sources.ods_reader import (
            iter_ods_rows_stdlib,
        )

        for i, row in enumerate(iter_ods_rows_stdlib(path, sheet_name=sheet_name)):
            if i < header_row_idx:
                continue
            yield list(row)
    else:
        raise ValueError(f"not an excel file: {path}")


def read_excel(
    spark: SparkSession,
    path: str,
    sheet_name: str | None = None,
    header_row_idx: int = 0,
    fmt: str | None = None,
) -> DataFrame:
    """Workbook → all-strings DataFrame (header = first yielded row), ready
    for the same infer_types/apply_types pipeline the CSV path uses.
    A sheet with no row at or after ``header_row_idx`` has no header and
    raises ValueError."""
    rows = iter_excel_rows(
        path, sheet_name=sheet_name, header_row_idx=header_row_idx, fmt=fmt
    )
    first = next(rows, None)
    if first is None:
        raise ValueError(
            f"no header row in {path!r} (sheet {sheet_name!r}): "
            f"no row at or after header_row_idx={header_row_idx}"
        )
    header = [str(c) if c is not None else f"col_{i}" for i, c in enumerate(first)]
    w = len(header)
    data = [
        tuple(None if c is None else str(c) for c in (list(row) + [None] * w)[:w])
        for row in rows
    ]
    return spark.createDataFrame(data, ", ".join(f"`{h}` string" for h in header))
