"""Unit tests for the stdlib streaming xlsx parser (FIXTURES.md group A)."""

import zipfile

import pytest

from catme_etl_j_spark.converter.errors import (
    ConversionError,
    SheetNotFoundError,
    ZipBombDetectedError,
)
from catme_etl_j_spark.converter.xlsx import XlsxWorkbook
from catme_etl_j_spark.converter.xlsx_writer import write_xlsx


def _rows(path, **kw):
    with XlsxWorkbook(path) as wb:
        return list(wb.iter_rows(**kw))


def test_roundtrip_basic(tmp_path):
    p = write_xlsx(
        str(tmp_path / "a.xlsx"),
        {"S": [["h1", "h2"], ["a", "b"], ["c", "d"]]},
    )
    assert _rows(p) == [
        (0, {0: "h1", 1: "h2"}),
        (1, {0: "a", 1: "b"}),
        (2, {0: "c", 1: "d"}),
    ]


def test_sparse_and_skipped_rows(tmp_path):
    # A2 fixture: absent cells absent from the dict; absent rows skipped
    # entirely (row indices preserved — order is the contract, SURVEY §1.1).
    p = write_xlsx(
        str(tmp_path / "a.xlsx"),
        {"S": [["h"], [None, "x"], None, ["z"]]},
    )
    assert _rows(p) == [(0, {0: "h"}), (1, {1: "x"}), (3, {0: "z"})]


def test_number_formatting_general(tmp_path):
    p = write_xlsx(str(tmp_path / "a.xlsx"), {"S": [[3, 9.5, -2.25, 1e15, True, False]]})
    assert _rows(p)[0][1] == {
        0: "3",
        1: "9.5",
        2: "-2.25",
        3: "1000000000000000",
        4: "TRUE",
        5: "FALSE",
    }


def test_unicode_preserved(tmp_path):
    p = write_xlsx(str(tmp_path / "a.xlsx"), {"S": [["Ünïcode Кириллица", "a\nb"]]})
    assert _rows(p)[0][1] == {0: "Ünïcode Кириллица", 1: "a\nb"}


def test_sheet_selection_precedence(tmp_path):
    # S4 decision: index beats name (EasyExcel-documented order).
    p = write_xlsx(
        str(tmp_path / "a.xlsx"),
        {"First": [["f"]], "Second": [["s"]]},
    )
    with XlsxWorkbook(p) as wb:
        assert wb.sheet_names == ["First", "Second"]
        assert wb.resolve_sheet(sheet_name="First", sheet_index=1).endswith("sheet2.xml")
        assert wb.resolve_sheet(sheet_name="Second").endswith("sheet2.xml")
        assert wb.resolve_sheet().endswith("sheet1.xml")


def test_sheet_not_found_lists_available(tmp_path):
    p = write_xlsx(str(tmp_path / "a.xlsx"), {"Only": [["x"]]})
    with XlsxWorkbook(p) as wb:
        with pytest.raises(SheetNotFoundError, match=r"available sheets: \['Only'\]"):
            wb.resolve_sheet(sheet_name="Nope")
        with pytest.raises(SheetNotFoundError, match="out of range"):
            wb.resolve_sheet(sheet_index=5)


def test_not_a_zip(tmp_path):
    bad = tmp_path / "bad.xlsx"
    bad.write_bytes(b"this is not a zip file")
    with pytest.raises(ConversionError, match="not a valid xlsx"):
        XlsxWorkbook(str(bad))


def test_zip_bomb_inflate_ratio(tmp_path):
    # A8-adjacent: highly compressible giant sheet trips the ratio guard.
    p = str(tmp_path / "bomb.xlsx")
    write_xlsx(p, {"S": [["x"]]})
    with zipfile.ZipFile(p, "a", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("xl/huge.xml", b"\x00" * 50_000_000)  # ~1:50000 ratio
    with pytest.raises(ZipBombDetectedError, match="inflate ratio"):
        XlsxWorkbook(p)


def test_zip_bomb_entry_size_cap(tmp_path):
    p = str(tmp_path / "big.xlsx")
    write_xlsx(p, {"S": [["x" * 2000] * 5] * 200})
    with pytest.raises(ZipBombDetectedError, match="expands to"):
        XlsxWorkbook(p, max_entry_size=1000)


def test_malformed_sheet_xml(tmp_path):
    # A8: structurally broken sheet member -> typed ConversionError.
    p = str(tmp_path / "a.xlsx")
    write_xlsx(p, {"S": [["h"], ["x"]]})
    p2 = str(tmp_path / "trunc.xlsx")
    with zipfile.ZipFile(p) as src, zipfile.ZipFile(p2, "w") as dst:
        for item in src.namelist():
            data = src.read(item)
            if item == "xl/worksheets/sheet1.xml":
                data = data[: len(data) // 2]  # truncated XML
            dst.writestr(item, data)
    with pytest.raises(ConversionError, match="malformed sheet XML"):
        _rows(p2)


def test_continue_on_error_skips_bad_cell(tmp_path):
    # Shared-string index out of range is a per-cell structural error.
    p = str(tmp_path / "a.xlsx")
    write_xlsx(p, {"S": [["h"], ["ok"]]})
    import re

    with zipfile.ZipFile(p) as zf:
        sheet = zf.read("xl/worksheets/sheet1.xml").decode()
    sheet = sheet.replace(
        "</sheetData>",
        '<row r="3"><c r="A3" t="s"><v>99</v></c><c r="B3" t="inlineStr"><is><t>keep</t></is></c></row></sheetData>',
    )
    p2 = str(tmp_path / "b.xlsx")
    with zipfile.ZipFile(p) as src, zipfile.ZipFile(p2, "w") as dst:
        for item in src.namelist():
            data = sheet.encode() if item == "xl/worksheets/sheet1.xml" else src.read(item)
            dst.writestr(item, data)
    with pytest.raises(ConversionError, match="bad cell"):
        _rows(p2)
    rows = _rows(p2, continue_on_error=True)
    assert rows[-1] == (2, {1: "keep"})  # bad cell dropped, good cell kept


def test_corrupt_archives_raise_typed_errors(tmp_path):
    """Totality of the §2.6 error contract: ANY corruption of a valid
    workbook must surface as ConversionError (or parse successfully),
    never as a raw zipfile/zlib/ElementTree/Unicode exception. A 7k-case
    byte-flip + XML-mutation fuzz originally found six raw escape
    classes (lazy CRC checks, zlib inflation, truncated streams,
    encrypted/unsupported entries, mangled header names, ET.ParseError);
    this deterministic slice of it pins the wrap."""
    import io
    import random

    from catme_etl_j_spark.converter.xlsx_writer import Styled

    base_path = str(tmp_path / "base.xlsx")
    write_xlsx(
        base_path,
        {"s1": [["a", "b", "c"], [1, "x", Styled(45000, "yyyy-mm-dd")], [2.5, "", True]]},
    )
    base = open(base_path, "rb").read()
    rng = random.Random(42)
    mut_path = str(tmp_path / "mut.xlsx")

    def trial(data):
        with open(mut_path, "wb") as f:
            f.write(data)
        try:
            with XlsxWorkbook(mut_path) as wb:
                for _ in wb.iter_rows():
                    pass
        except ConversionError:
            pass  # typed: the contract

    for _ in range(400):  # byte flips anywhere in the archive
        data = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            data[rng.randrange(len(data))] = rng.randrange(256)
        trial(bytes(data))

    # structured corruption: valid zip, broken XML inside
    for mutate in (
        lambda t: t.replace("<v>", "<v><v>", 1),
        lambda t: t[: len(t) // 2],
        lambda t: t.replace('s="0"', 's="999"', 1),
        lambda t: t.replace("count=", 'count="x" junk=', 1),
    ):
        zin = zipfile.ZipFile(io.BytesIO(base))
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zout:
            for item in zin.infolist():
                payload = zin.read(item.filename)
                if item.filename.endswith(".xml"):
                    payload = mutate(payload.decode()).encode()
                zout.writestr(item, payload)
        trial(buf.getvalue())

    # and the pristine bytes still parse (the fuzz guard changed nothing)
    assert len(_rows(base_path)) == 3


def test_shared_strings_load_holds_only_the_strings(tmp_path):
    """The shared-strings load keeps the strings and nothing per entry
    beside them: every finished ``<si>`` is detached from the ``<sst>``
    root iterparse builds, so its peak traced memory stays within 1.5x
    of the strings' own size (an attached empty Element per entry
    roughly doubles it)."""
    import sys
    import tracemalloc

    n = 100_000
    sst = "".join(f"<si><t>cell text {i:06d}</t></si>" for i in range(n))
    path = write_xlsx(str(tmp_path / "base.xlsx"), {"S": [["h"], ["x"]]})
    with zipfile.ZipFile(path, "a") as z:
        z.writestr(
            "xl/sharedStrings.xml",
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
            f' count="{n}" uniqueCount="{n}">{sst}</sst>',
        )
    with XlsxWorkbook(path) as wb:
        tracemalloc.start()
        try:
            strings = wb._shared_strings()
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
    assert len(strings) == n and strings[7] == "cell text 000007"
    own = sum(sys.getsizeof(s) for s in strings)
    assert peak < 1.5 * own, (peak, own)
