"""End-to-end converter tests over FIXTURES.md group A schemas."""

import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from catme_etl_j_spark.converter import ConversionError, convert, read_xlsx
from catme_etl_j_spark.converter.xlsx_writer import write_xlsx


@pytest.fixture(scope="module")
def catalog_xlsx(tmp_path_factory):
    # A1-style happy-path table with a sparse row (A2) mixed in.
    d = tmp_path_factory.mktemp("cat")
    rows = [["sku", "name", "price", "qty"]]
    for i in range(60):
        rows.append([f"SKU{i:03d}", f"Item {i} ä", round(0.5 + i, 2), i])
    rows[10] = [None, "only-name", None, None]
    return write_xlsx(str(d / "catalog.xlsx"), {"Catalog": rows})


def test_read_xlsx_schema_and_order(spark, catalog_xlsx):
    df = read_xlsx(spark, catalog_xlsx)
    assert df.columns == ["_file", "_row_idx", "sku", "name", "price", "qty"]
    assert [f.dataType.simpleString() for f in df.schema.fields[2:]] == ["string"] * 4
    rows = df.orderBy("_row_idx").collect()
    assert len(rows) == 60
    assert rows[0]["sku"] == "SKU000" and rows[0]["_row_idx"] == 1
    assert rows[-1]["sku"] == "SKU059"
    sparse = rows[9]
    assert sparse["sku"] is None and sparse["name"] == "only-name"


def test_ndjson_order_and_sparse_keys(spark, catalog_xlsx, tmp_path):
    out = str(tmp_path / "out.ndjson")
    res = convert(catalog_xlsx, "NDJSON", out, overwrite=True, spark=spark)
    assert res.rows_written == 60
    lines = [json.loads(line) for line in open(out)]
    assert lines[0]["sku"] == "SKU000"
    assert lines[9] == {"name": "only-name"}  # absent cells omitted (EasyExcel parity)
    assert [ln["sku"] for ln in lines if "sku" in ln] == [f"SKU{i:03d}" for i in range(60) if i != 9]


def test_csv_chunks_rotation_and_padding(spark, catalog_xlsx, tmp_path):
    res = convert(
        catalog_xlsx, "CSV", batch_size=25, temp_dir=str(tmp_path), overwrite=True, spark=spark
    )
    names = [p.split("/")[-1] for p in res.outputs]
    assert names == ["catalog-chunk-1.csv", "catalog-chunk-2.csv", "catalog-chunk-3.csv"]
    c1, c2, c3 = (open(p).read().splitlines() for p in res.outputs)
    # header per chunk; 25+25+10 data rows
    assert c1[0] == c2[0] == c3[0] == "sku,name,price,qty"
    assert (len(c1), len(c2), len(c3)) == (26, 26, 11)
    # sparse row PADDED to full width (divergence from reference misalignment)
    assert c1[10 + 1 - 1] == ",only-name,,"


def test_json_array_framing(spark, catalog_xlsx, tmp_path):
    out = str(tmp_path / "out.json")
    res = convert(catalog_xlsx, "JSON", out, overwrite=True, spark=spark)
    arr = json.load(open(out))
    assert res.rows_written == len(arr) == 60
    assert arr[9] == {"name": "only-name"}
    pretty = str(tmp_path / "pretty.json")
    convert(catalog_xlsx, "JSON", pretty, overwrite=True, pretty_print=True, spark=spark)
    assert json.load(open(pretty)) == arr
    assert open(pretty).read().startswith("[\n")


def test_header_row_offset(spark, tmp_path):
    # A3: junk rows before the header are dropped (R2).
    p = write_xlsx(
        str(tmp_path / "off.xlsx"),
        {"S": [["junk"], ["title", "noise"], [], ["id", "val"], ["1", "a"], ["2", "b"]]},
    )
    df = read_xlsx(spark, p, header_row=3)
    rows = df.orderBy("_row_idx").collect()
    assert df.columns[2:] == ["id", "val"]
    assert [(r["id"], r["val"]) for r in rows] == [("1", "a"), ("2", "b")]


def test_parse_unit_cuts_batches_by_bytes(tmp_path):
    """Wide text rows: parse_unit cuts a batch once its cell text
    reaches _BATCH_BYTES, so no batch holds more than the budget plus
    one row, and the batches still carry exactly iter_rows()'s rows."""
    import random

    from catme_etl_j_spark.converter import reader
    from catme_etl_j_spark.converter.xlsx import XlsxWorkbook

    rng = random.Random(0)  # text that deflates well above the zip-bomb floor
    n_cols = 20
    rows = [[f"h{j}" for j in range(n_cols)]]
    rows += [
        ["".join(rng.choices("abcdefghij klmnop", k=1024)) for _ in range(n_cols)]
        for _ in range(300)
    ]
    p = write_xlsx(str(tmp_path / "wide.xlsx"), {"S": rows})
    scan = reader.Scan().infer(p)
    batches = list(reader.parse_unit(scan, (p, None, None, None, None)))
    row_cost = 64 + n_cols * (16 + 1024)
    assert len(batches) >= 5
    got = []
    for b in batches:
        data = [b.column(2 + j).to_pylist() for j in range(n_cols)]
        assert sum(len(v) for col in data for v in col) <= reader._BATCH_BYTES + row_cost
        for k, idx in enumerate(b.column(1).to_pylist()):
            got.append((idx, {j: data[j][k] for j in range(n_cols) if data[j][k] is not None}))
    with XlsxWorkbook(p) as wb:
        assert got == list(wb.iter_rows())[1:]


def test_sheet_max_col_light_scan(tmp_path):
    """r11: files without a dimension element size their schema via the
    light structural width scan (sheet_max_col), which must equal the
    full iter_rows scan — and degrade to None (not a wrong width) on
    cells without refs, CDATA, or comments."""
    import re as _re
    import zipfile as _zip

    from catme_etl_j_spark.converter.xlsx import XlsxWorkbook

    p = write_xlsx(
        str(tmp_path / "w.xlsx"),
        {"S": [["a", "b"], ["1", "2", "3", "4"], ["x"]]},
    )
    # strip the dimension element so the fallback path is exercised
    src = _zip.ZipFile(p)
    stripped = str(tmp_path / "nodim.xlsx")
    with _zip.ZipFile(stripped, "w") as dst:
        for info in src.infolist():
            data = src.read(info.filename)
            if info.filename.startswith("xl/worksheets/"):
                data = _re.sub(rb"<dimension[^>]*/>", b"", data)
            dst.writestr(info.filename, data)
    wb = XlsxWorkbook(stripped)
    assert wb.sheet_dimension() is None
    assert wb.sheet_max_col() == 3  # widest row has 4 cells
    full = -1
    for _, cells in wb.iter_rows():
        if cells:
            full = max(full, max(cells))
    assert full == 3

    # a cell without an r ref makes the light scan refuse (None)
    noref = str(tmp_path / "noref.xlsx")
    with _zip.ZipFile(noref, "w") as dst:
        for info in src.infolist():
            data = src.read(info.filename)
            if info.filename.startswith("xl/worksheets/"):
                data = _re.sub(rb"<dimension[^>]*/>", b"", data)
                data = data.replace(
                    b'<c r="A2" t="inlineStr">',
                    b'<c t="inlineStr">',
                    1,
                )
            dst.writestr(info.filename, data)
    assert XlsxWorkbook(noref).sheet_max_col() is None


def _plan_sheet(path: str, spool: str, n_par: int = 4):
    """The reader's slice planner run in-process, without Spark:
    (plan, width), or (None, None) when it refuses."""
    from catme_etl_j_spark.converter.xlsx import (
        XlsxWorkbook,
        combine_slice_scans,
        scan_slice_range,
        slice_scan_tasks,
    )

    with XlsxWorkbook(path) as wb:
        meta = wb.spool_sheet(spool_path=spool)
    tasks = slice_scan_tasks(meta, n_par) if meta is not None else None
    if tasks is None:
        return None, None
    ranges, targets, decl_q = tasks
    res = [w for lo, hi in ranges for w in scan_slice_range(spool, lo, hi, targets, decl_q, True)]
    return combine_slice_scans(
        res, first_row_off=meta["first_row_off"], targets=targets, want_width=True
    )


def test_slice_parallel_parse_matches_serial(spark, tmp_path, monkeypatch):
    """r11: a single big sheet is byte-sliced at verified row boundaries
    and parsed by N concurrent tasks; the sliced read must be
    row-for-row identical to the serial read (same rows, same
    _row_idx), including sparse rows and values after the boundaries."""
    from catme_etl_j_spark.converter import xlsx as xlsx_mod
    from catme_etl_j_spark.converter.xlsx import XlsxWorkbook

    rows = [["a", "b", "c"]]
    for i in range(3000):
        rows.append([f"v{i}", i, round(i * 0.5, 2)])
    rows[100] = [None, "only-b", None]  # sparse row crossing a boundary zone
    p = write_xlsx(str(tmp_path / "big.xlsx"), {"S": rows})

    # serial references first: the sheet is below the real slice floor
    serial_df = read_xlsx(spark, p).orderBy("_row_idx").collect()
    out_serial = str(tmp_path / "serial.ndjson")
    convert(p, "NDJSON", out_serial, overwrite=True, spark=spark)
    monkeypatch.setattr(xlsx_mod, "SLICE_TARGET_BYTES", 1)

    # direct plan + slice-iterator equality (no Spark in the loop)
    plan, _ = _plan_sheet(p, str(tmp_path / "spool.xml"))
    assert plan and len(plan) >= 2
    with XlsxWorkbook(p) as wb:
        sliced = [r for s, e in plan for r in wb.iter_rows_slice(start=s, end=e)]
        assert sliced == list(wb.iter_rows())

    # end-to-end: the sliced frame equals the serial frame, and its
    # concatenated NDJSON is byte-identical to the serial one-unit read's
    sliced_df = read_xlsx(spark, p)
    assert sliced_df.rdd.getNumPartitions() > 1  # really took the slice path
    assert sliced_df._catme_partition_ordered  # sink metadata attached
    assert sliced_df.orderBy("_row_idx").collect() == serial_df
    out_sliced = str(tmp_path / "sliced.ndjson")
    convert(p, "NDJSON", out_sliced, overwrite=True, spark=spark)
    assert open(out_sliced, "rb").read() == open(out_serial, "rb").read()


def test_slice_scan_failure_falls_back_to_serial(spark, tmp_path, monkeypatch, caplog):
    """A failed scan fan-out is a refusal, never an error: with the
    spool deleted after spool_sheet and before the scan job, read_xlsx
    takes the serial path and the NDJSON is byte-identical to a serial
    conversion."""
    import os

    from catme_etl_j_spark.converter import xlsx as xlsx_mod

    rows = [["a", "b"]] + [[f"v{i} ä", i] for i in range(2000)]
    p = write_xlsx(str(tmp_path / "f.xlsx"), {"S": rows})
    out_serial = str(tmp_path / "serial.ndjson")
    convert(p, "NDJSON", out_serial, overwrite=True, spark=spark)

    monkeypatch.setattr(xlsx_mod, "SLICE_TARGET_BYTES", 1)
    spool_sheet = xlsx_mod.XlsxWorkbook.spool_sheet

    def spool_then_lose(self, *args, spool_path, **kwargs):
        meta = spool_sheet(self, *args, spool_path=spool_path, **kwargs)
        os.remove(spool_path)
        return meta

    monkeypatch.setattr(xlsx_mod.XlsxWorkbook, "spool_sheet", spool_then_lose)
    with caplog.at_level("WARNING", logger="catme_etl_j_spark.converter.reader"):
        df = read_xlsx(spark, p)
    assert "slice scan job failed" in caplog.text  # the job ran, and failed
    assert df.rdd.getNumPartitions() == 1  # serial path: one whole-file unit
    out = str(tmp_path / "fallback.ndjson")
    res = convert(p, "NDJSON", out, overwrite=True, spark=spark)
    assert res.rows_written == 2000
    assert open(out, "rb").read() == open(out_serial, "rb").read()


# Split invariance of the slice planner: scan_slice_range results over ANY
# byte partition of the spool must combine to the same plan and width.
_ss_text = st.text(alphabet=st.sampled_from(list("ab <&>\"'äß日本😀")), max_size=12)
_ss_cell = st.one_of(
    st.tuples(st.just("n"), st.integers(-(10**6), 10**6)),
    st.tuples(st.just("inlineStr"), _ss_text),
    st.tuples(st.just("s"), st.integers(0, 3)),
    st.tuples(st.just("b"), st.booleans()),
    st.tuples(st.just("blank"), st.none()),
)
# (row-number gap, [(column gap, cell)]): sparse rows, sparse cells and
# ragged widths
_ss_row = st.tuples(
    st.integers(1, 3), st.lists(st.tuples(st.integers(1, 3), _ss_cell), max_size=6)
)


def _write_shared_sheet(path: str, shared: list[str], rows) -> str:
    import zipfile as _zip
    from xml.sax.saxutils import escape

    from catme_etl_j_spark.converter.xlsx_writer import _col_index_to_letters

    parts, r = [], 0
    for row_gap, cells in rows:
        r += row_gap
        c, xml = -1, []
        for col_gap, (kind, v) in cells:
            c += col_gap
            ref = f"{_col_index_to_letters(c)}{r}"
            if kind == "blank":
                xml.append(f'<c r="{ref}"/>')
            elif kind == "inlineStr":
                xml.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(v)}</t></is></c>')
            elif kind == "b":
                xml.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
            else:
                xml.append(f'<c r="{ref}" t="{kind}"><v>{v}</v></c>')
        parts.append(f'<row r="{r}">{"".join(xml)}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    decl = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
    with _zip.ZipFile(path, "w", _zip.ZIP_DEFLATED) as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'{decl}<workbook {ns} xmlns:r="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships"><sheets>'
            '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            f'{decl}<Relationships xmlns="http://schemas.openxmlformats.org/package/'
            '2006/relationships"><Relationship Id="rId1" Target="worksheets/sheet1.xml"'
            ' Type="http://schemas.openxmlformats.org/officeDocument/2006/'
            'relationships/worksheet"/></Relationships>',
        )
        zf.writestr("xl/sharedStrings.xml", f"{decl}<sst {ns}>{sst}</sst>")
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'{decl}<worksheet {ns}><sheetData>{"".join(parts)}</sheetData></worksheet>',
        )
    return path


@settings(max_examples=60, deadline=None)
@given(
    shared=st.lists(_ss_text, min_size=4, max_size=4),
    rows=st.lists(_ss_row, min_size=1, max_size=25),
    n_par=st.integers(2, 6),
    data=st.data(),
)
def test_slice_plan_split_invariance(tmp_path_factory, shared, rows, n_par, data):
    """Any byte partition of the spool into 1..k scan ranges, scanned
    in any window size, gives the planner's own plan and width; the
    width is the full parse's max column, and the slices concatenate
    to exactly ``iter_rows()``."""
    import re as _re
    from unittest import mock

    from catme_etl_j_spark.converter import xlsx as xlsx_mod
    from catme_etl_j_spark.converter.xlsx import (
        XlsxWorkbook,
        combine_slice_scans,
        scan_slice_range,
    )

    d = tmp_path_factory.mktemp("split")
    p = _write_shared_sheet(str(d / "s.xlsx"), shared, rows)
    spool = str(d / "spool.xml")
    with mock.patch.object(xlsx_mod, "SLICE_TARGET_BYTES", 1):
        with XlsxWorkbook(p) as wb:
            meta = wb.spool_sheet(spool_path=spool)
        ranges, targets, decl_q = xlsx_mod.slice_scan_tasks(meta, n_par)

    def plan_over(part):
        res = [
            w for lo, hi in part for w in scan_slice_range(spool, lo, hi, targets, decl_q, True)
        ]
        return combine_slice_scans(
            res, first_row_off=meta["first_row_off"], targets=targets, want_width=True
        )

    plan, width = plan_over(ranges)
    size = meta["file_size"]
    xml = open(spool, "rb").read()
    # cut points: anywhere, plus right around row/cell starts and targets
    starts = [m.start() for m in _re.finditer(rb"<row|<c |</sheetData", xml)]
    edges = [e + k for e in starts + targets for k in (-1, 0, 1) if 0 < e + k < size]
    cuts = data.draw(
        st.lists(st.one_of(st.integers(1, size - 1), st.sampled_from(edges)), max_size=8)
    )
    bounds = [0, *sorted(set(cuts)), size]
    # windows of a few hundred bytes, some sized so that a window edge
    # of the one-range scan splits a row start, a cell tag or the
    # sheetData close
    small = [e for e in edges if 16 <= e <= 600]
    window = data.draw(
        st.one_of(st.integers(16, 600), st.sampled_from(small or [16]))
    )
    for w in (xlsx_mod._SCAN_WINDOW, window):
        with mock.patch.object(xlsx_mod, "_SCAN_WINDOW", w):
            for part in ([(0, size)], list(zip(bounds, bounds[1:])), ranges):
                assert plan_over(part) == (plan, width), (part, w)
    with XlsxWorkbook(p) as wb:
        full = list(wb.iter_rows())
        if plan is not None:
            full_max = max((max(cells) for _, cells in full if cells), default=-1)
            assert width == (full_max if full_max >= 0 else None)
            for spool_path in (spool, None):
                sliced = [
                    row
                    for s, e in plan
                    for row in wb.iter_rows_slice(start=s, end=e, spool_path=spool_path)
                ]
                assert sliced == full


def test_slice_plan_refuses_unprovable_sheets(tmp_path, monkeypatch):
    """The slice planner refuses — (None, None), the serial fallback —
    whenever its byte-level scan cannot prove slicing exact: one
    fixture per refusal rule."""
    import re as _re
    import zipfile as _zip

    from catme_etl_j_spark.converter import xlsx as xlsx_mod

    p = write_xlsx(
        str(tmp_path / "w.xlsx"),
        {"S": [["a"], *([[i] for i in range(50)])]},
    )
    spool = str(tmp_path / "spool.xml")
    # a sheet below SLICE_TARGET_BYTES is not worth slicing
    assert _plan_sheet(p, spool) == (None, None)
    monkeypatch.setattr(xlsx_mod, "SLICE_TARGET_BYTES", 1)
    # the baseline sheet slices once the floor is lowered
    plan, width = _plan_sheet(p, spool)
    assert plan and width == 0

    src = _zip.ZipFile(p)
    cases = {
        "comment": lambda d: d.replace(b"<sheetData>", b"<sheetData><!-- x -->", 1),
        "CDATA": lambda d: d.replace(
            b'<t xml:space="preserve">a</t>', b"<t><![CDATA[a]]></t>", 1
        ),
        "processing instruction": lambda d: d.replace(b"<sheetData>", b"<sheetData><?pi x?>", 1),
        "ISO-8859-1": lambda d: d.replace(b'encoding="UTF-8"', b'encoding="ISO-8859-1"', 1),
        "row without r": lambda d: _re.sub(rb'<row r="7"[^>]*>', b"<row>", d, count=1),
        "r not the first attribute": lambda d: _re.sub(
            rb'<row r="7"[^>]*>', b'<row spans="1:1" r="7">', d, count=1
        ),
        "digit-less first r": lambda d: d.replace(b'<row r="1"', b'<row r=""', 1),
        "rowBreaks": lambda d: d.replace(
            b"</sheetData>", b'</sheetData><rowBreaks count="0"/>', 1
        ),
    }
    for name, mutate in cases.items():
        out = str(tmp_path / f"{name}.xlsx")
        with _zip.ZipFile(out, "w") as dst:
            for info in src.infolist():
                data = src.read(info.filename)
                if info.filename.startswith("xl/worksheets/"):
                    mutated = mutate(data)
                    assert mutated != data, name
                    data = mutated
                dst.writestr(info.filename, data)
        assert _plan_sheet(out, spool) == (None, None), name


def test_ragged_rows_index_keys(spark, tmp_path):
    # A4: surplus data columns get stringified-index names.
    p = write_xlsx(
        str(tmp_path / "rag.xlsx"),
        {"S": [["a", "b", "c", "d"], ["1", "2", "3", "4", "5", "6"], ["x", "y"]]},
    )
    df = read_xlsx(spark, p)
    assert df.columns[2:] == ["a", "b", "c", "d", "4", "5"]
    r = df.orderBy("_row_idx").collect()
    assert (r[0]["4"], r[0]["5"]) == ("5", "6")
    assert r[1]["4"] is None


def test_bad_headers_dedupe_and_fallback(spark, tmp_path):
    # A5: empty header -> index key; duplicate names -> suffixed.
    p = write_xlsx(
        str(tmp_path / "bad.xlsx"),
        {"S": [["id", "", "name", "name", "value"], ["1", "2", "3", "4", "5"]]},
    )
    df = read_xlsx(spark, p)
    assert df.columns[2:] == ["id", "1", "name", "name_2", "value"]


def test_multi_sheet_selection(spark, tmp_path):
    # A6: by name, by index, default-first.
    p = write_xlsx(
        str(tmp_path / "ms.xlsx"),
        {
            "Data2024": [["y"], ["2024"]],
            "Data2025": [["y"], ["2025"], ["2025b"]],
            "Ignore": [["z"]],
        },
    )
    assert read_xlsx(spark, p, sheet_name="Data2025").count() == 2
    assert read_xlsx(spark, p, sheet_index=0).count() == 1
    assert read_xlsx(spark, p).count() == 1
    with pytest.raises(Exception, match="available sheets"):
        read_xlsx(spark, p, sheet_name="Nope")


def test_malformed_input_fails_fast(spark, tmp_path):
    bad = tmp_path / "bad.xlsx"
    bad.write_bytes(b"garbage" * 100)
    with pytest.raises(ConversionError):
        read_xlsx(spark, str(bad))


def test_validation_rules(spark, catalog_xlsx, tmp_path):
    with pytest.raises(ConversionError, match="batch_size"):
        convert(catalog_xlsx, "CSV", batch_size=0, spark=spark)
    with pytest.raises(ConversionError, match="output is required"):
        convert(catalog_xlsx, "NDJSON", None, spark=spark)
    with pytest.raises(ConversionError, match="format"):
        convert(catalog_xlsx, "XML", "x", spark=spark)
    with pytest.raises(ConversionError, match="header_row"):
        convert(catalog_xlsx, "NDJSON", "x", header_row=-1, spark=spark)


def test_overwrite_gate(spark, catalog_xlsx, tmp_path):
    out = str(tmp_path / "o.ndjson")
    convert(catalog_xlsx, "NDJSON", out, spark=spark)
    with pytest.raises(ConversionError, match="overwrite"):
        convert(catalog_xlsx, "NDJSON", out, spark=spark)
    convert(catalog_xlsx, "NDJSON", out, overwrite=True, spark=spark)  # ok


def test_ndjson_partitioned_scale_mode(spark, catalog_xlsx, tmp_path):
    # single_file=False: parallel partitioned write (the 100 TB path)
    from catme_etl_j_spark.converter.sinks import write_ndjson
    from catme_etl_j_spark.converter.reader import read_xlsx

    out = str(tmp_path / "nd_dir")
    df = read_xlsx(spark, catalog_xlsx)
    n = write_ndjson(df, out, overwrite=True, single_file=False)
    assert n == 60
    back = spark.read.json(out)
    assert back.count() == 60
    assert "sku" in back.columns and "_row_idx" not in back.columns


def test_multi_file_read(spark, tmp_path):
    # 100 TB posture: parallelism across files — glob read unions them.
    for i in range(3):
        write_xlsx(
            str(tmp_path / f"f{i}.xlsx"), {"S": [["k", "v"], [f"k{i}", str(i)]]}
        )
    df = read_xlsx(spark, str(tmp_path / "*.xlsx"))
    rows = df.orderBy("_file", "_row_idx").collect()
    assert [r["k"] for r in rows] == ["k0", "k1", "k2"]
    assert len({r["_file"] for r in rows}) == 3


def test_file_names_are_taken_literally(spark, tmp_path):
    """``_file`` is binaryFile's path string, and a name holding ``%20``,
    ``#``, ``?``, a space or non-ASCII is opened as written — the
    listing's encoded URIs are decoded exactly once."""
    d = tmp_path / "in dir%20x"
    d.mkdir()
    names = ["a b.xlsx", "p%20q.xlsx", "x#y.xlsx", "q?z.xlsx", "ü日本.xlsx", "plain.xlsx"]
    for i, n in enumerate(names):
        write_xlsx(str(d / n), {"S": [["k"], [str(i)]]})
    listed = sorted(r[0] for r in spark.read.format("binaryFile").load(str(d)).collect())
    df = read_xlsx(spark, str(d / "*.xlsx"))
    assert [r["_file"] for r in df.collect()] == listed
    assert df.count() == len(names)


@pytest.fixture(scope="module")
def glob_dirs(tmp_path_factory):
    """Eight single-sheet workbooks and three two-sheet workbooks, with
    sparse rows; file names sort differently from their sizes."""
    d = tmp_path_factory.mktemp("globs")
    (d / "single").mkdir()
    (d / "multi").mkdir()
    for k in range(8):
        rows = [["k", "v"]] + [[f"f{k}r{i}", "x" * ((k * 37) % 11)] for i in range(5 + 7 * (k % 3))]
        rows[3] = [None, "sparse"]
        write_xlsx(str(d / "single" / f"part_{k:02d}.xlsx"), {"S": rows})
    for k in range(3):
        write_xlsx(
            str(d / "multi" / f"wb{k}.xlsx"),
            {
                "alpha": [["k", "v"]] + [[f"a{k}.{i}", str(i)] for i in range(4 + k)],
                "beta": [["k", "v"], [f"b{k}", None], [None, "only-v"]],
            },
        )
    return {"single": str(d / "single" / "*.xlsx"), "multi": str(d / "multi" / "*.xlsx")}


def _partition_keys(df) -> list[list[tuple]]:
    cols = [c for c in ("_file", "_sheet_idx", "_row_idx") if c in df.columns]
    return [[tuple(r) for r in part] for part in df.select(*cols).rdd.glom().collect() if part]


@pytest.mark.parametrize("layout", ["single", "multi"])
def test_local_reads_are_partition_ordered(spark, glob_dirs, tmp_path, layout):
    """A local glob or multi-sheet read places contiguous runs of the
    sorted units in partitions: each partition's rows are in (file,
    sheet, row) order and start after the previous partition's last
    row, so the marked frame's concat NDJSON is byte-identical to the
    sorting sink's (``_ordered_single``) output of the same frame."""
    from catme_etl_j_spark.converter.sinks import write_ndjson

    sheet_name = "*" if layout == "multi" else None
    df = read_xlsx(spark, glob_dirs[layout], sheet_name=sheet_name)
    parts = _partition_keys(df)
    assert len(parts) > 1
    for prev, part in zip(parts, parts[1:]):
        assert part[0] > prev[-1]
    assert all(part == sorted(part) for part in parts)
    assert df._catme_partition_ordered

    out = str(tmp_path / "convert.ndjson")
    res = convert(glob_dirs[layout], "NDJSON", out, sheet_name=sheet_name, spark=spark)
    sorted_out = str(tmp_path / "sorted.ndjson")
    unmarked = df.select("*")  # any transformation drops the mark
    assert not getattr(unmarked, "_catme_partition_ordered", False)
    assert write_ndjson(unmarked, sorted_out) == res.rows_written
    assert open(out, "rb").read() == open(sorted_out, "rb").read()


def test_reordered_frame_still_written_in_row_order(spark, glob_dirs, tmp_path):
    """The sorting sink is the fallback for frames a caller reordered:
    a repartitioned reader frame still writes sheet order."""
    from catme_etl_j_spark.converter.sinks import write_ndjson

    out = str(tmp_path / "o.ndjson")
    convert(glob_dirs["single"], "NDJSON", out, spark=spark)
    shuffled = read_xlsx(spark, glob_dirs["single"]).repartition(3)
    assert shuffled.rdd.getNumPartitions() == 3
    again = str(tmp_path / "again.ndjson")
    write_ndjson(shuffled, again)
    assert open(again, "rb").read() == open(out, "rb").read()
    keys = [json.loads(ln).get("k") for ln in open(out)]
    assert [k for k in keys if k][:2] == ["f0r0", "f0r1"]
    assert [k for k in keys if k][-1] == "f7r11"


@pytest.mark.parametrize("layout", ["single", "multi"])
def test_remote_content_read_matches_local(spark, glob_dirs, tmp_path, monkeypatch, layout):
    """Input the driver cannot open travels as binaryFile content: the
    columns are inferred in an executor task and the parse runs on the
    workbook bytes; the frame is unmarked, and its NDJSON equals the
    local read's byte for byte."""
    from catme_etl_j_spark.converter import reader as reader_mod

    sheet_name = "*" if layout == "multi" else None
    local_out = str(tmp_path / "local.ndjson")
    convert(glob_dirs[layout], "NDJSON", local_out, sheet_name=sheet_name, spark=spark)
    local_cols = read_xlsx(spark, glob_dirs[layout], sheet_name=sheet_name).columns

    monkeypatch.setattr(reader_mod, "_as_local_path", lambda uri: None)
    remote = read_xlsx(spark, glob_dirs[layout], sheet_name=sheet_name)
    assert remote.columns == local_cols
    assert not getattr(remote, "_catme_partition_ordered", False)
    remote_out = str(tmp_path / "remote.ndjson")
    convert(glob_dirs[layout], "NDJSON", remote_out, sheet_name=sheet_name, spark=spark)
    assert open(remote_out, "rb").read() == open(local_out, "rb").read()


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def convert_worker_peaks(fixture: str, out: str) -> tuple[int, float, dict[str, float]]:
    """Convert ``fixture`` to NDJSON at ``out`` in a fresh process with
    its own session: (rows written, conversion seconds, {process kind:
    peak MB}). A peak is the kernel's own per-process high-water mark
    (VmHWM), so a sample every 0.25 s catches every spike a process had
    before the sample; Spark's Python workers live until the session
    stops, after the conversion."""
    import subprocess
    import sys
    import threading
    import time

    def descendants(root):
        kids = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    st = f.read()
                ppid = int(st.rsplit(")", 1)[1].split()[1])
                kids.setdefault(ppid, []).append(int(p))
            except Exception:
                pass
        out, stack = [], [root]
        while stack:
            n = stack.pop()
            out.append(n)
            stack.extend(kids.get(n, []))
        return out

    def hwm_kb(pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        return int(ln.split()[1])
        except Exception:
            return 0
        return 0

    def cmdline(pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return f.read().replace(b"\0", b" ").decode(errors="replace")
        except Exception:
            return ""

    peaks: dict = {}
    proc = subprocess.Popen(
        [sys.executable, "-c", (
            f"import sys; sys.path.insert(0, {_ROOT!r})\n"
            "from catme_etl_j_spark.converter.api import convert\n"
            f"r = convert({fixture!r}, 'NDJSON', {out!r}, overwrite=True)\n"
            "print('ROWS', r.rows_written, round(r.elapsed_s, 1))\n"
        )],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
    )

    def poll():
        while proc.poll() is None:
            for pid in descendants(proc.pid):
                kb = hwm_kb(pid)
                if not kb:
                    continue
                cl = cmdline(pid)
                if "java" in cl.split(" ")[0]:
                    key = "jvm"
                elif "daemon" in cl or "worker" in cl:
                    key = "pyworker"
                else:
                    key = "pydriver" if pid == proc.pid else "other"
                peaks[key] = max(peaks.get(key, 0), kb / 1024)
            time.sleep(0.25)

    t = threading.Thread(target=poll)
    t.start()
    stdout, _ = proc.communicate(timeout=600)
    t.join()
    assert proc.returncode == 0, stdout
    line = [ln for ln in stdout.decode().splitlines() if ln.startswith("ROWS")][0]
    return int(line.split()[1]), float(line.split()[2]), peaks


@pytest.mark.slow
def test_bigsheet_conversion_bounded_memory(tmp_path):
    """The reference's headline invariant (README.md:11 '~700 MB
    tested, multi-GB designed'; contract :98/:220-225): converting a
    single sheet whose XML is ~492 MB (1.2M rows x 8 cols) must keep
    every Python worker's peak RSS bounded far below the inflated
    sheet. The slice scan reads its range in _SCAN_WINDOW windows and
    the parse cuts Arrow batches at _BATCH_BYTES of cell text, so a
    task holds a constant amount of the sheet, whatever its size.
    Measured on 4 cores: 125 MB worker VmHWM, pinned at 150 MB (+20 %;
    whole-range scan reads and row-counted batches measured 160 MB).
    The conversion itself must produce every row."""
    fixture = os.path.join(_ROOT, ".scaledata", "bigsheet.xlsx")
    if not os.path.exists(fixture):
        import sys

        sys.path.insert(0, os.path.join(_ROOT, "tools"))
        import gen_bigxlsx

        gen_bigxlsx.generate(fixture)

    rows, _, peaks = convert_worker_peaks(fixture, str(tmp_path / "bigsheet.ndjson"))
    assert rows == 1_200_000
    worker_peak_mb = peaks.get("pyworker", 0)
    assert 0 < worker_peak_mb < 150, (
        f"Python worker peak RSS {worker_peak_mb:.0f} MB for a 492 MB sheet "
        f"— the bounded-memory invariant regressed (peaks: {peaks})"
    )


def test_csv_rows_written_with_escaped_quote_and_multiline_cells(spark, tmp_path):
    # Spark's CSV writer escapes a quote inside a cell as \" (not ""),
    # so one `5"` cell leaves an odd number of quote characters in its
    # chunk, and a multi-line cell is one quoted record across two lines:
    # rows_written must count records, not quotes or lines.
    p = write_xlsx(
        str(tmp_path / "parts.xlsx"),
        {"S": [["part", "note"], ['5" screw', "a"], ["bolt", "two\nlines"], ["nut", "c"], ["washer", "d"]]},
    )
    res = convert(
        p, "CSV", batch_size=3, temp_dir=str(tmp_path / "out"), overwrite=True, spark=spark
    )
    assert res.rows_written == 4
    assert [open(o, "rb").read() for o in res.outputs] == [
        b'part,note\n"5\\" screw",a\nbolt,"two\nlines"\nnut,c\n',
        b"part,note\nwasher,d\n",
    ]
