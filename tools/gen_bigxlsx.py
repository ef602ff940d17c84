"""Synthesize the reference-headline-scale single-sheet xlsx (VERDICT r8 #5).

The reference's one quantitative claim is "~700 MB tested, multi-GB
designed" with a bounded-memory conversion invariant
(/root/reference/README.md:11, contract :98, :220-225). The repo's
converter benches only a 100k-row sheet, so nothing demonstrated the
invariant at a few-hundred-MB single sheet. This tool streams a
~500 MB-of-sheet-XML workbook (1.2M rows x 8 cols, mixed inline
strings + numbers) WITHOUT ever holding the sheet in memory itself
(zipfile.open(mode="w") streaming member write) — the generator must
not need the memory the converter is proving it doesn't need.

Content is deterministic (counter-derived, no RNG/time) and carries
enough entropy that the compressed entry stays above the converter's
min-inflate-ratio cap (0.01): measured ratio ~0.05.

``--shared-strings`` writes the four text columns as ``t="s"`` cells
into a streamed ``xl/sharedStrings.xml`` instead (Excel's default
layout): every (row, column) string is its own table entry, so the
table has 4 entries per row, and the converted output is byte-identical
to the inline-string twin of the same row count. The table is written
before the sheet, both in row chunks, so the generator's memory stays
flat here too.

Usage: python tools/gen_bigxlsx.py [path] [n_rows] [--shared-strings]
       (default .scaledata/bigsheet.xlsx, or .scaledata/bigsheet_sst.xlsx
        with --shared-strings, in the repo root; 1_200_000 rows;
        ~470 MB sheet XML, ~25 MB file; skipped if already present)
"""

from __future__ import annotations

import argparse
import itertools
import os
import zipfile
from collections.abc import Iterator

N_ROWS_DEFAULT = 1_200_000
N_COLS = 8
_CHUNK_ROWS = 20_000

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet.xml"/>
{sst}</Types>"""
_SST_TYPE = (
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>\n'
)

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="big" sheetId="1" r:id="rId1"/></sheets></workbook>'
)

_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" '
    'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
    'Target="worksheets/sheet1.xml"/>{sst}</Relationships>'
)
_SST_REL = (
    '<Relationship Id="rId2" '
    'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" '
    'Target="sharedStrings.xml"/>'
)

_COLS = "ABCDEFGH"


def _text(i: int, j: int) -> str:
    return f"u{(i * 31 + j * 7) % 9973}-{i}-{j}"


def _row_xml(i: int, shared_strings: bool) -> str:
    # 4 string + 4 numeric cells; values counter-derived so the deflate
    # ratio stays well above the 0.01 zip-bomb floor. A shared string
    # cell holds its table index, 4 * row + column.
    r = i + 2  # 1-based, after the header row
    cells = []
    for j in range(4):
        if shared_strings:
            cells.append(f'<c r="{_COLS[j]}{r}" t="s"><v>{4 * i + j}</v></c>')
        else:
            cells.append(
                f'<c r="{_COLS[j]}{r}" t="inlineStr"><is><t>{_text(i, j)}</t></is></c>'
            )
    for j in range(4, N_COLS):
        v = f"{(i * 17 + j) % 100000}.{i % 97:02d}"
        cells.append(f'<c r="{_COLS[j]}{r}"><v>{v}</v></c>')
    return f'<row r="{r}">{"".join(cells)}</row>'


def _write(f, head: str, body: Iterator[str], tail: str) -> int:
    """Stream ``head``, each chunk of ``body`` and ``tail`` into ``f``
    as UTF-8; bytes written."""
    n = 0
    for part in itertools.chain([head], body, [tail]):
        b = part.encode()
        f.write(b)
        n += len(b)
    return n


def _chunks(n_rows: int, render) -> Iterator[str]:
    for lo in range(0, n_rows, _CHUNK_ROWS):
        yield "".join(render(i) for i in range(lo, min(lo + _CHUNK_ROWS, n_rows)))


def generate(path: str, n_rows: int = N_ROWS_DEFAULT, shared_strings: bool = False) -> str:
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    decl = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        sst_type, sst_rel = (_SST_TYPE, _SST_REL) if shared_strings else ("", "")
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES.format(sst=sst_type))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS.format(sst=sst_rel))
        if shared_strings:
            n = 4 * n_rows
            with zf.open("xl/sharedStrings.xml", "w") as f:
                sst_bytes = _write(
                    f,
                    f'{decl}<sst {ns} count="{n}" uniqueCount="{n}">',
                    _chunks(
                        n_rows,
                        lambda i: "".join(f"<si><t>{_text(i, j)}</t></si>" for j in range(4)),
                    ),
                    "</sst>",
                )
        with zf.open("xl/worksheets/sheet1.xml", "w") as f:
            header = "".join(
                f'<c r="{_COLS[j]}1" t="inlineStr"><is><t>col_{j}</t></is></c>'
                for j in range(N_COLS)
            )
            xml_bytes = _write(
                f,
                f'{decl}<worksheet {ns}><sheetData><row r="1">{header}</row>',
                _chunks(n_rows, lambda i: _row_xml(i, shared_strings)),
                "</sheetData></worksheet>",
            )
    os.replace(tmp, path)
    sst = f", shared strings {sst_bytes / 1e6:.0f} MB" if shared_strings else ""
    print(
        f"{path}: {n_rows} rows, sheet XML {xml_bytes / 1e6:.0f} MB{sst}, "
        f"file {os.path.getsize(path) / 1e6:.0f} MB"
    )
    return path


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path", nargs="?")
    ap.add_argument("n_rows", nargs="?", type=int, default=N_ROWS_DEFAULT)
    ap.add_argument("--shared-strings", action="store_true")
    a = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    name = "bigsheet_sst.xlsx" if a.shared_strings else "bigsheet.xlsx"
    generate(a.path or os.path.join(root, ".scaledata", name), a.n_rows, a.shared_strings)
