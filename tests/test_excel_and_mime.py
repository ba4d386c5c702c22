"""S4 stdlib xlsx reader + S7 magic-byte MIME detection."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql import functions as F

from udata_datalake_service_spark.functions.mime import detect_mime
from udata_datalake_service_spark.sources.excel_reader import (
    iter_excel_rows,
    iter_xlsx_rows_stdlib,
    read_excel,
)

_WB_XML = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets>
<sheet name="Feuille1" sheetId="1" r:id="rId1"/>
<sheet name="Autre" sheetId="2" r:id="rId2"/>
</sheets></workbook>"""

_RELS_XML = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
</Relationships>"""

_SST_XML = """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">
<si><t>nom</t></si><si><r><t>mont</t></r><r><t>ant</t></r></si><si><t>Aurélie</t></si>
</sst>"""

# header row; data rows exercise shared strings, numbers, inline strings,
# booleans, and a gap (B skipped on row 4)
_SHEET1_XML = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="inlineStr"><is><t>ok</t></is></c></row>
<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>1020.5</v></c><c r="C2" t="b"><v>1</v></c></row>
<row r="3"><c r="A3" t="inlineStr"><is><t>Benoît</t></is></c><c r="B3"><v>7</v></c><c r="C3" t="b"><v>0</v></c></row>
<row r="4"><c r="A4" t="s"><v>0</v></c><c r="C4" t="inlineStr"><is><t>gap</t></is></c></row>
</sheetData></worksheet>"""

_SHEET2_XML = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<sheetData>
<row r="1"><c r="A1" t="inlineStr"><is><t>autre</t></is></c></row>
</sheetData></worksheet>"""


@pytest.fixture()
def xlsx_path(tmp_path):
    p = tmp_path / "fixture.xlsx"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/workbook.xml", _WB_XML)
        z.writestr("xl/_rels/workbook.xml.rels", _RELS_XML)
        z.writestr("xl/sharedStrings.xml", _SST_XML)
        z.writestr("xl/worksheets/sheet1.xml", _SHEET1_XML)
        z.writestr("xl/worksheets/sheet2.xml", _SHEET2_XML)
    return str(p)


def test_stdlib_xlsx_cell_types_and_gaps(xlsx_path):
    rows = list(iter_xlsx_rows_stdlib(xlsx_path))
    assert rows[0] == ["nom", "montant", "ok"]  # shared + multi-run + inline
    assert rows[1] == ["Aurélie", "1020.5", True]
    assert rows[2] == ["Benoît", "7", False]
    assert rows[3] == ["nom", None, "gap"]  # gap cell → positional None


def test_stdlib_xlsx_sheet_selection(xlsx_path):
    rows = list(iter_xlsx_rows_stdlib(xlsx_path, sheet_name="Autre"))
    assert rows == [["autre"]]
    with pytest.raises(ValueError, match="not found"):
        list(iter_xlsx_rows_stdlib(xlsx_path, sheet_name="nope"))


def test_iter_excel_rows_header_offset(xlsx_path):
    rows = list(iter_excel_rows(xlsx_path, header_row_idx=1))
    assert rows[0][0] == "Aurélie"


def test_read_excel_to_dataframe(spark, xlsx_path):
    df = read_excel(spark, xlsx_path)
    assert df.columns == ["nom", "montant", "ok"]
    got = [tuple(r) for r in df.orderBy("nom").collect()]
    # short row padded to header width; every cell stringified
    assert ("nom", None, "gap") in got
    assert ("Aurélie", "1020.5", "True") in got
    assert df.count() == 3


def test_read_excel_without_header_row_fails_typed(spark, xlsx_path, tmp_path):
    """No row at or after header_row_idx means no header: a ValueError
    naming the file and sheet, not a bare StopIteration (which PEP 479
    turns into RuntimeError inside a calling generator)."""
    empty = tmp_path / "empty.xlsx"
    with zipfile.ZipFile(empty, "w") as z:
        z.writestr("xl/workbook.xml", _WB_XML)
        z.writestr("xl/_rels/workbook.xml.rels", _RELS_XML)
        z.writestr(
            "xl/worksheets/sheet1.xml",
            _SHEET2_XML.split("<sheetData>")[0] + "<sheetData/></worksheet>",
        )
    with pytest.raises(ValueError, match=r"empty\.xlsx.*sheet None"):
        read_excel(spark, str(empty))
    with pytest.raises(ValueError, match=r"fixture\.xlsx.*sheet 'Autre'.*header_row_idx=1"):
        read_excel(spark, xlsx_path, sheet_name="Autre", header_row_idx=1)


MAGIC_CASES = [
    (b"\x1f\x8b\x08rest", "application/gzip"),
    (b"PK\x03\x04rest", "application/zip"),
    (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1x", "application/vnd.ms-excel"),
    (b"%PDF-1.7 ...", "application/pdf"),
    (b"\xff\xd8\xff\xe0JFIF", "image/jpeg"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"ID3\x04tag", "audio/mpeg"),
    (b"RIFF\x00\x00WAVE", "audio/x-wav"),
    ("nom;montant\nAurélie;1020,50\n".encode(), "text/plain"),
    (b"\x00\x01\x02binary junk", "application/octet-stream"),
    # invalid UTF-8 mid-stream: must classify, never crash the job
    # (Spark 4's decode() raises MALFORMED_CHARACTER_CODING — regression
    # guard for the make_valid_utf8 repair path)
    (b"plain text\xff", "application/octet-stream"),
    # exactly-sniff_bytes payload with malformed trailing byte: NOT
    # truncated (nothing follows the head), so the single trailing U+FFFD
    # tolerance must not apply
    (b"x" * 63 + b"\xff", "application/octet-stream"),
    # multi-byte char genuinely cut at the sniff boundary (payload
    # continues past 64 bytes): one trailing replacement is tolerated
    (b"y" * 63 + "é".encode()[:1] + b"tail beyond the sniff window", "text/plain"),
    (None, None),
]


def test_detect_mime_magic_matrix(spark):
    df = spark.createDataFrame(
        [(i, c) for i, (c, _) in enumerate(MAGIC_CASES)], "i int, content binary"
    )
    got = {r["i"]: r["mime"] for r in df.select("i", detect_mime(F.col("content")).alias("mime")).collect()}
    for i, (_, expect) in enumerate(MAGIC_CASES):
        assert got[i] == expect, f"case {i}"


def test_detect_mime_agrees_with_reference_routing(spark):
    """The reference analyses resources whose detected mime is in its csv/
    excel family (analysis/resource.py:92 + utils/csv.py) — our sniff must
    route the same formats the same way."""
    cases = spark.createDataFrame(
        [
            ("a.csv.gz", bytes([0x1F, 0x8B, 8, 0])),
            ("b.xlsx", b"PK\x03\x04xl/"),
            ("c.xls", b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"),
            ("d.csv", b"col1;col2\n1;2\n"),
        ],
        "name string, content binary",
    )
    got = dict(
        cases.select("name", detect_mime(F.col("content")).alias("m")).collect()
    )
    assert got == {
        "a.csv.gz": "application/gzip",
        "b.xlsx": "application/zip",
        "c.xls": "application/vnd.ms-excel",
        "d.csv": "text/plain",
    }


def test_excel_flows_through_inference_pipeline(spark, xlsx_path):
    """S4 → S6: the workbook rides the same type-vote/apply pipeline as CSV
    (reference format matrix, tests/test_analysis/test_analysis_other_formats.py)."""
    from udata_datalake_service_spark.sources.inference import inspect_tabular

    typed, insp = inspect_tabular(spark, xlsx_path)
    assert insp.engine == "stdlib-xlsx"
    assert insp.total_lines == 3
    assert insp.columns["nom"]["python_type"] == "string"
    assert insp.columns["montant"]["python_type"] == "float"
    rows = {r["nom"]: r for r in typed.collect()}
    assert rows["Aurélie"]["montant"] == 1020.5
    assert rows["Benoît"]["montant"] == 7.0


def test_analyse_cli_ingests_xlsx(spark, xlsx_path, tmp_path):
    from udata_datalake_service_spark.cli import analyse_csv
    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    name = analyse_csv(spark, lake, xlsx_path, url="https://x.org/f.xlsx")
    back = lake.read_table(name)
    assert back.count() == 3
    reg = lake.registry().filter(F.col("parsing_table") == name).collect()
    assert len(reg) == 1 and '"engine":' in reg[0]["csv_detective"]


# ---------------------------------------------------------------- .xls ----
import struct

from udata_datalake_service_spark.sources import biff
from udata_datalake_service_spark.sources.biff import (
    iter_xls_rows_stdlib,
    write_xls,
)


@pytest.fixture()
def xls_path(tmp_path):
    p = str(tmp_path / "fixture.xls")
    write_xls(
        p,
        [
            ["nom", "montant", "ok"],
            ["Aurélie", 1020.5, True],
            ["Benoît", 7.0, False],
            [None, None, "gap"],
            ["unicode € ✓", -0.25, None],
        ],
        sheet_name="Feuille1",
    )
    return p


def test_stdlib_xls_roundtrip(xls_path):
    rows = list(iter_xls_rows_stdlib(xls_path, sheet_name="Feuille1"))
    assert rows[0] == ["nom", "montant", "ok"]
    assert rows[1] == ["Aurélie", 1020.5, True]
    assert rows[2] == ["Benoît", 7.0, False]
    assert rows[3] == [None, None, "gap"]
    assert rows[4] == ["unicode € ✓", -0.25]  # trailing None not materialized
    # default sheet = first sheet; unknown name raises
    assert list(iter_xls_rows_stdlib(xls_path))[0] == rows[0]
    with pytest.raises(ValueError, match="not found"):
        list(iter_xls_rows_stdlib(xls_path, sheet_name="nope"))


def test_iter_excel_rows_dispatches_xls(xls_path):
    rows = list(iter_excel_rows(xls_path, sheet_name="Feuille1", header_row_idx=1))
    assert rows[0] == ["Aurélie", 1020.5, True]


def test_read_excel_xls_to_dataframe(spark, xls_path):
    df = read_excel(spark, xls_path, sheet_name="Feuille1")
    assert df.columns == ["nom", "montant", "ok"]
    got = [tuple(r) for r in df.collect()]
    assert ("Aurélie", "1020.5", "True") in got
    assert df.count() == 4


def _glob_and_sheet(sheet_body: bytes, sst_payload: bytes | None = None):
    """Assemble a one-sheet BIFF stream from raw record bytes."""
    bof_g = biff._rec(0x0809, struct.pack("<HHHHII", 0x600, 0x5, 0, 0, 0, 0x600))
    bof_s = biff._rec(0x0809, struct.pack("<HHHHII", 0x600, 0x10, 0, 0, 0, 0x600))
    name = biff._xl_string("S", short=True)
    sst = b"" if sst_payload is None else sst_payload
    glob_len = (
        len(bof_g) + len(biff._rec(0x0085, struct.pack("<IBB", 0, 0, 0) + name))
        + len(sst) + 4
    )
    glob = (
        bof_g
        + biff._rec(0x0085, struct.pack("<IBB", glob_len, 0, 0) + name)
        + sst
        + biff._rec(0x000A, b"")
    )
    return glob + bof_s + sheet_body + biff._rec(0x000A, b"")


def test_xls_rk_mulrk_label_formula_cells(tmp_path):
    """Record types real-world BIFF8 files use that the fixture writer
    doesn't emit: RK (all 4 encodings), MULRK, inline LABEL, FORMULA with
    cached numeric / bool / string (via STRING) results, BOOLERR errors."""

    def rk_int(v, div100=False):
        return ((v & 0x3FFFFFFF) << 2) | 0x02 | (0x01 if div100 else 0)

    def rk_dbl(v, div100=False):
        bits = struct.unpack("<Q", struct.pack("<d", v))[0]
        return ((bits >> 32) & 0xFFFFFFFC) | (0x01 if div100 else 0)

    body = (
        biff._rec(0x027E, struct.pack("<HHHI", 0, 0, 0, rk_int(42)))
        + biff._rec(0x027E, struct.pack("<HHHI", 0, 1, 0, rk_int(-4200, True)))
        + biff._rec(0x027E, struct.pack("<HHHI", 0, 2, 0, rk_dbl(2.5)))
        + biff._rec(0x027E, struct.pack("<HHHI", 0, 3, 0, rk_dbl(250.0, True)))
        + biff._rec(
            0x00BD,
            struct.pack("<HH", 1, 0)
            + struct.pack("<HI", 0, rk_int(7))
            + struct.pack("<HI", 0, rk_int(8))
            + struct.pack("<H", 1),
        )
        + biff._rec(0x0204, struct.pack("<HHH", 2, 0, 0) + biff._xl_string("inline é"))
        + biff._rec(0x0006, struct.pack("<HHHd", 3, 0, 0, 99.5) + b"\0" * 6)
        + biff._rec(
            0x0006,
            struct.pack("<HHH", 3, 1, 0) + b"\x01\0\x01\0\0\0\xff\xff" + b"\0" * 6,
        )
        + biff._rec(
            0x0006,
            struct.pack("<HHH", 3, 2, 0) + b"\x00\0\0\0\0\0\xff\xff" + b"\0" * 6,
        )
        + biff._rec(0x0207, biff._xl_string("cached"))
        + biff._rec(0x0205, struct.pack("<HHHBB", 4, 0, 0, 0x07, 1))  # #DIV/0!
    )
    p = str(tmp_path / "records.xls")
    biff._write_cfb(p, "Workbook", _glob_and_sheet(body) + b"\0" * 4096)
    rows = list(iter_xls_rows_stdlib(p))
    assert rows[0] == [42, -42.0, 2.5, 2.5]
    assert rows[1] == [7, 8]
    assert rows[2] == ["inline é"]
    assert rows[3] == [99.5, True, "cached"]
    assert rows[4] == [None]


def test_xls_sst_continue_split(tmp_path):
    """SST character data split across a CONTINUE record: the grbit byte
    restates itself at the split, and may switch compressed → utf16."""
    # string 0: "abcdef" split 3/3, both halves compressed
    # string 1: "xé€" split after 1 char, second half utf16
    first = (
        struct.pack("<II", 2, 2)
        + struct.pack("<H", 6) + b"\x00" + b"abc"
    )
    second = b"\x00" + b"def" + struct.pack("<H", 3) + b"\x00" + b"x"
    third = b"\x01" + "é€".encode("utf-16-le")
    sst = biff._rec(0x00FC, first) + biff._rec(0x003C, second) + biff._rec(0x003C, third)
    body = biff._rec(0x00FD, struct.pack("<HHHI", 0, 0, 0, 0)) + biff._rec(
        0x00FD, struct.pack("<HHHI", 0, 1, 0, 1)
    )
    p = str(tmp_path / "continue.xls")
    biff._write_cfb(p, "Workbook", _glob_and_sheet(body, sst_payload=sst) + b"\0" * 4096)
    assert list(iter_xls_rows_stdlib(p)) == [["abcdef", "xé€"]]


def test_xls_ministream(tmp_path):
    """Streams under the 4096-byte cutoff live in the ministream addressed
    by the miniFAT — how every small real-world .xls is laid out."""
    body = biff._rec(0x0204, struct.pack("<HHH", 0, 0, 0) + biff._xl_string("mini"))
    payload = _glob_and_sheet(body)
    assert len(payload) < 4096
    msz, ssz = 64, 512
    mini = payload + b"\0" * ((-len(payload)) % msz)
    nmini = len(mini) // msz
    mini += b"\0" * ((-len(mini)) % ssz)
    ncont = len(mini) // ssz
    # sectors: 0=FAT, 1=dir, 2=miniFAT, 3.. = ministream container
    fat = [biff._FATSECT, biff._ENDOFCHAIN, biff._ENDOFCHAIN]
    fat += [4 + i for i in range(ncont - 1)] + [biff._ENDOFCHAIN]
    fat += [biff._FREESECT] * (128 - len(fat))
    minifat = [i + 1 for i in range(nmini - 1)] + [biff._ENDOFCHAIN]
    minifat += [biff._FREESECT] * (128 - len(minifat))

    def direntry(name, etype, child, start, size):
        nb = name.encode("utf-16-le") + b"\0\0"
        e = nb + b"\0" * (64 - len(nb))
        e += struct.pack("<H", len(nb)) + bytes([etype, 1])
        e += struct.pack("<iii", -1, -1, child) + b"\0" * 36
        e += struct.pack("<IQ", start, size)
        return e

    dirsec = (
        direntry("Root Entry", 5, 1, 3, len(mini))
        + direntry("Workbook", 2, -1, 0, len(payload))
        + b"\0" * 256
    )
    hdr = bytearray(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\0" * 16)
    hdr += struct.pack("<HHHHH", 0x3E, 0x3, 0xFFFE, 9, 6) + b"\0" * 6
    hdr += struct.pack("<IIII", 0, 1, 1, 0)
    hdr += struct.pack("<III", 4096, 2, 1)  # cutoff, miniFAT start, count
    hdr += struct.pack("<II", biff._ENDOFCHAIN, 0)
    hdr += struct.pack("<I", 0) + struct.pack("<I", biff._FREESECT) * 108
    p = str(tmp_path / "mini.xls")
    with open(p, "wb") as f:
        f.write(
            bytes(hdr)
            + struct.pack("<128I", *fat)
            + dirsec
            + struct.pack("<128I", *minifat)
            + mini
        )
    assert list(iter_xls_rows_stdlib(p)) == [["mini"]]


def test_xls_flows_through_inference_pipeline(spark, xls_path):
    """S4 → S6 for the binary format: the .xls rides the same
    type-vote/apply pipeline as CSV/xlsx (reference format matrix,
    tests/test_analysis/test_analysis_other_formats.py:11-36)."""
    from udata_datalake_service_spark.sources.inference import inspect_tabular

    typed, insp = inspect_tabular(spark, str(xls_path))
    assert insp.engine == "stdlib-biff"
    assert insp.columns["montant"]["python_type"] == "float"
    rows = {r["nom"]: r for r in typed.collect()}
    assert rows["Aurélie"]["montant"] == 1020.5


@pytest.mark.slow
def test_xls_roundtrip_property():
    """Property: any grid of strings/doubles/bools/None survives the
    write_xls → iter_xls_rows_stdlib roundtrip (trailing-None truncation
    aside). Catches SST dedup, unicode switching, and cell-record edges."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cell = st.one_of(
        st.none(),
        st.booleans(),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFF
            ),
            max_size=40,
        ),
    )
    grid = st.lists(st.lists(cell, min_size=1, max_size=6), min_size=1, max_size=8)

    @settings(max_examples=25, deadline=None)
    @given(grid=grid)
    def check(grid):
        import os

        from udata_datalake_service_spark.sources.biff import (
            iter_xls_rows_stdlib,
            write_xls,
        )

        tmpdir = "/tmp/xls_prop"
        os.makedirs(tmpdir, exist_ok=True)
        p = os.path.join(tmpdir, "prop.xls")
        write_xls(p, grid)
        got = list(iter_xls_rows_stdlib(p))
        # rows with at least one non-None cell, trailing Nones trimmed
        expected = []
        for row in grid:
            width = max((i for i, v in enumerate(row) if v is not None), default=-1)
            if width >= 0:
                expected.append(row[: width + 1])
        assert got == expected

    check()


def test_xls_biff5_legacy(tmp_path):
    """Pre-1997 BIFF5 workbooks: byte-string LABELs (no SST, no unicode
    flags), ShortString sheet names — detected from the BOF vers field."""

    def bstr(s):  # BIFF5 byte string: u16 len + latin-1 bytes
        b = s.encode("latin-1")
        return struct.pack("<H", len(b)) + b

    bof_g = biff._rec(0x0809, struct.pack("<HH", 0x0500, 0x0005))
    bof_s = biff._rec(0x0809, struct.pack("<HH", 0x0500, 0x0010))
    name = "Vieille"
    bs_payload_len = 4 + 1 + 1 + 1 + len(name)
    glob_len = len(bof_g) + 4 + bs_payload_len + 4
    boundsheet = biff._rec(
        0x0085,
        struct.pack("<IBB", glob_len, 0, 0)
        + bytes([len(name)])
        + name.encode("latin-1"),
    )
    glob = bof_g + boundsheet + biff._rec(0x000A, b"")
    assert len(glob) == glob_len
    body = (
        biff._rec(0x0204, struct.pack("<HHH", 0, 0, 0) + bstr("libellé"))
        + biff._rec(0x0203, struct.pack("<HHHd", 0, 1, 0, 19.97))
        + biff._rec(0x000A, b"")
    )
    p = str(tmp_path / "legacy.xls")
    biff._write_cfb(p, "Book", glob + bof_s + body + b"\0" * 4096)
    assert list(iter_xls_rows_stdlib(p, sheet_name="Vieille")) == [["libellé", 19.97]]


def test_magic_routing_beats_lying_extension(spark, tmp_path, xls_path, xlsx_path):
    """Reference routes by detected format, not extension (utils/csv.py:
    24-31): an OLE2 payload behind a .csv name still reaches the workbook
    reader; a zipped xlsx behind .bin likewise."""
    import shutil

    from udata_datalake_service_spark.sources.inference import inspect_tabular

    lying_csv = str(tmp_path / "really_xls.csv")
    shutil.copy(xls_path, lying_csv)
    typed, insp = inspect_tabular(spark, lying_csv)
    assert insp.engine == "stdlib-biff"
    assert insp.columns["montant"]["python_type"] == "float"

    lying_bin = str(tmp_path / "really_xlsx.bin")
    shutil.copy(xlsx_path, lying_bin)
    _, insp2 = inspect_tabular(spark, lying_bin)
    assert insp2.engine == "stdlib-xlsx"


# ---------------------------------------------------------------- .ods ----
_ODS_CONTENT = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
 xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
 xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
 xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
<office:body><office:spreadsheet>
<table:table table:name="Feuille1">
<table:table-row>
<table:table-cell office:value-type="string"><text:p>nom</text:p></table:table-cell>
<table:table-cell office:value-type="string"><text:p>montant</text:p></table:table-cell>
<table:table-cell office:value-type="string"><text:p>ok</text:p></table:table-cell>
<table:table-cell table:number-columns-repeated="1021"/>
</table:table-row>
<table:table-row>
<table:table-cell office:value-type="string"><text:p>Aurélie</text:p></table:table-cell>
<table:table-cell office:value-type="float" office:value="1020.5"><text:p>1 020,50</text:p></table:table-cell>
<table:table-cell office:value-type="boolean" office:boolean-value="true"><text:p>VRAI</text:p></table:table-cell>
</table:table-row>
<table:table-row>
<table:table-cell office:value-type="string"><text:p>Benoît</text:p></table:table-cell>
<table:table-cell table:number-columns-repeated="1"/>
<table:table-cell office:value-type="date" office:date-value="2024-01-15"><text:p>15/01/2024</text:p></table:table-cell>
</table:table-row>
<table:table-row table:number-rows-repeated="2">
<table:table-cell office:value-type="float" office:value="7" table:number-columns-repeated="2"/>
</table:table-row>
</table:table>
<table:table table:name="Autre">
<table:table-row>
<table:table-cell office:value-type="string"><text:p>autre</text:p></table:table-cell>
</table:table-row>
</table:table>
</office:spreadsheet></office:body></office:document-content>"""


@pytest.fixture()
def ods_path(tmp_path):
    p = tmp_path / "fixture.ods"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
        z.writestr("content.xml", _ODS_CONTENT)
    return str(p)


def test_stdlib_ods_cells(ods_path):
    from udata_datalake_service_spark.sources.ods_reader import iter_ods_rows_stdlib

    rows = list(iter_ods_rows_stdlib(ods_path, sheet_name="Feuille1"))
    assert rows[0] == ["nom", "montant", "ok"]  # trailing padding trimmed
    assert rows[1] == ["Aurélie", 1020.5, True]
    assert rows[2] == ["Benoît", None, "2024-01-15"]  # gap + typed date
    assert rows[3] == rows[4] == [7.0, 7.0]  # rows-repeated expansion
    assert list(iter_ods_rows_stdlib(ods_path, sheet_name="Autre")) == [["autre"]]
    with pytest.raises(ValueError, match="not found"):
        list(iter_ods_rows_stdlib(ods_path, sheet_name="nope"))


def test_ods_flows_through_inference_pipeline(spark, ods_path, tmp_path):
    """.ods routes through the same vote pipeline — by extension AND by
    zip-mimetype magic behind a lying extension."""
    import shutil

    from udata_datalake_service_spark.sources.inference import inspect_tabular

    typed, insp = inspect_tabular(spark, ods_path)
    assert insp.engine == "stdlib-ods"
    assert insp.columns["montant"]["python_type"] == "float"

    lying = str(tmp_path / "really_ods.csv")
    shutil.copy(ods_path, lying)
    _, insp2 = inspect_tabular(spark, lying)
    assert insp2.engine == "stdlib-ods"


def test_excel_reader_fails_typed_on_corrupt_downloads(tmp_path):
    """Fuzz pin (r8): the crawl path feeds DOWNLOADED workbooks into
    iter_excel_rows — truncated transfers, random bytes, zip/CFB
    prefixes. The contract is typed: ValueError (or NotImplementedError)
    only; a raw BadZipFile/KeyError/ParseError/EINVAL would kill the S4
    analyse task untyped. Real IO faults (missing file) still propagate
    as OSError."""
    import io
    import random
    import re
    import zipfile as _zf

    import pytest as _pytest

    from udata_datalake_service_spark.sources.excel_reader import iter_excel_rows

    rng = random.Random(99)
    buf = io.BytesIO()
    with _zf.ZipFile(buf, "w") as z:
        z.writestr("xl/workbook.xml", "<x/>")
    zfx = buf.getvalue()
    for trial in range(400):
        data = bytes(rng.randint(0, 255) for _ in range(rng.randint(0, 300)))
        if trial % 3 == 0:
            data = zfx[: rng.randint(0, len(zfx))] + data
        if trial % 5 == 0:
            data = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + data
        for ext in ("xlsx", "xls", "ods"):
            p = tmp_path / f"f.{ext}"
            p.write_bytes(data)
            try:
                list(iter_excel_rows(str(p)))
            except (ValueError, NotImplementedError):
                pass
    # well-formed zip, malformed cell reference: lowercase / absolute refs
    # are not the r= form the reader indexes by
    for ref in ("a1", "$A$1"):
        p = tmp_path / "badref.xlsx"
        with _zf.ZipFile(p, "w") as z:
            z.writestr("xl/workbook.xml", _WB_XML)
            z.writestr("xl/_rels/workbook.xml.rels", _RELS_XML)
            z.writestr(
                "xl/worksheets/sheet1.xml",
                _SHEET2_XML.replace('r="A1"', f'r="{ref}"'),
            )
        with _pytest.raises(ValueError, match=f"malformed cell reference '{re.escape(ref)}'"):
            list(iter_excel_rows(str(p)))
    # well-formed zip, structurally broken workbook: a shared-string cell
    # with no <v> index, and a workbook.xml without <sheets>
    for name, wb_xml, sheet_xml, match in (
        ("novalue", _WB_XML, _SHEET2_XML.replace(
            '<c r="A1" t="inlineStr"><is><t>autre</t></is></c>', '<c r="A1" t="s"/>'
        ), "shared-string cell 'A1' has no <v> index"),
        ("nosheets", "<workbook xmlns=\"http://schemas.openxmlformats.org/"
         "spreadsheetml/2006/main\"/>", _SHEET2_XML, "no <sheets> element"),
    ):
        p = tmp_path / f"{name}.xlsx"
        with _zf.ZipFile(p, "w") as z:
            z.writestr("xl/workbook.xml", wb_xml)
            z.writestr("xl/_rels/workbook.xml.rels", _RELS_XML)
            z.writestr("xl/worksheets/sheet1.xml", sheet_xml)
        with _pytest.raises(ValueError, match=match):
            list(iter_excel_rows(str(p)))
    with _pytest.raises(FileNotFoundError):
        list(iter_excel_rows(str(tmp_path / "missing.xlsx")))
