"""Pure-stdlib streaming XLSX parser (zipfile + SAX).

This is the Spark-side rebuild of the reference's SAX ingest (SURVEY.md
§2.1 S1/S2): the reference streams one sheet's XML through POI/EasyExcel
SAX handlers with bounded memory
(src/.../strategy/UserModeEventConversionStrategy.java:282-299,
src/.../strategy/StreamingConversionStrategy.java:77-95). Here the same
single-pass, constant-memory discipline is implemented with expat SAX
callbacks for sheet data (chunk-fed, push->pull generator) and
``iterparse`` for the small metadata parts; the two reference
strategies collapse into one implementation since both are already
constant-memory (SURVEY.md §2.1 S3 disposition).

Row model matches the reference: ``dict[int, str]`` — 0-based column
index -> formatted cell string (src/.../core/ExcelRowListener.java:30).
Blank cells present in the XML are stored as ``""`` (the live POI
path's convention, UserModeEventConversionStrategy.java:272); cells
absent from the XML are absent from the dict.

Zip-bomb guards mirror §2.6: global min-inflate-ratio (reference
default 0.01, src/.../config/ConverterConfig.java:76-77) and a
max-entry-size cap (reference 6 GB,
UserModeEventConversionStrategy.java:78).

Value formatting: the reference delegates number/date rendering to
POI's DataFormatter (UserModeEventConversionStrategy.java:269-274);
here each numeric cell is rendered through its style's number format
code via formats.py (styles.xml cellXfs -> numFmtId -> compiled
renderer, builtin ids + custom numFmts, 1900 leap-year quirk).
Unstyled numbers render as Excel "General" (integral -> no decimal
point), booleans as TRUE/FALSE. Phonetic ``<rPh>`` ruby-text runs are
skipped in shared and inline strings, matching POI's
ReadOnlySharedStringsTable output.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import zipfile
import zlib
from collections.abc import Iterator
from xml.etree.ElementTree import ParseError, iterparse
from xml.parsers import expat as _expat

from catme_etl_j_spark.converter.errors import (
    ConversionError,
    SheetNotFoundError,
    ZipBombDetectedError,
)
from catme_etl_j_spark.converter.formats import compile_format, format_general, parse_styles

# Archive corruption surfaces LAZILY in the zipfile module (CRC checks,
# zlib inflation, truncated streams, unsupported compression, seeks on
# mangled offsets) and in ElementTree (ParseError, a SyntaxError — NOT an
# ExpatError) — a byte-flip fuzz showed all of these escaping the typed
# ConversionError contract of §2.6 when only construction-time BadZipFile
# was wrapped. Every archive/metadata read goes through _typed below.
_CORRUPT_ARCHIVE_ERRORS = (
    zipfile.BadZipFile,
    zlib.error,
    EOFError,
    OSError,
    NotImplementedError,  # zipfile: unsupported version / compression
    UnicodeDecodeError,  # zipfile: mangled entry names in local headers
    ParseError,
)


@contextlib.contextmanager
def _typed(name: str, what: str):
    """Convert lazy archive/XML corruption into the typed error surface."""
    try:
        yield
    except ConversionError:
        raise
    except _CORRUPT_ARCHIVE_ERRORS as e:
        raise ConversionError(f"corrupt xlsx ({what}): {name}: {e}") from e
    except RuntimeError as e:
        # zipfile raises bare RuntimeError for encrypted entries
        raise ConversionError(f"unreadable xlsx ({what}): {name}: {e}") from e


# Compiled format renderers are pure functions of (code, date-system);
# cache them process-wide so repeated workbooks (one per task) share.
_RENDERER_CACHE: dict[tuple[str, bool], object] = {}


def _renderer_for(code: str, date1904: bool = False):
    """code -> render callable, or None for the General fast path."""
    if code in ("General", "", "@"):
        return None
    key = (code, date1904)
    fn = _RENDERER_CACHE.get(key)
    if fn is None:
        fn = compile_format(code, date1904=date1904)
        _RENDERER_CACHE[key] = fn
    return None if fn is format_general else fn

_NS_MAIN = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_REL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_NS_PKGREL = "{http://schemas.openxmlformats.org/package/2006/relationships}"

DEFAULT_MIN_INFLATE_RATIO = 0.01
DEFAULT_MAX_ENTRY_SIZE = 6 * 1024**3  # 6 GB, matches the reference cap

_CELL_REF_RE = re.compile(r"([A-Z]+)(\d+)")

# --- strict row-boundary slice scan (intra-sheet parallel parse) ---
# A row TAG is pure ASCII markup; '<' cannot occur unescaped in text or
# attribute values, so a raw b'<row' byte sequence is a row element
# start unless it hides inside CDATA/comments/PIs/DTD — all of which
# begin with b'<!' or b'<?' and make the scan refuse (fall back to the
# serial parse). The STRICT pattern only matches a row tag whose whole
# attribute list is simple name="value" / name='value' pairs (no '<'
# inside values), which makes the r="N" extraction unambiguous; the
# LOOSE pattern counts every candidate row start, and any mismatch
# between the two counts aborts the plan.
# Superset of every candidate row-element start ('<row' + anything —
# deliberately loose: even '<rowBreaks' counts, so any sheet where the
# count differs from the strict form below refuses to slice).
_ROW_SUPER_NEEDLE = b"<row"
# A row tag whose FIRST attribute is r="N" (the standard spreadsheetml
# serialization, both quote styles). When every '<row' occurrence is
# also one of these (count equality), the declared row index always
# wins in the handler, so slice tasks never consult the sequential
# fallback and row numbering is exact without simulating it. The r
# value directly follows the tag name, so it cannot be a fragment of
# some other attribute's value. Prefixed tags (<x:row>) simply never
# match — the plan refuses and the serial path handles them.
_ROW_RFIRST_NEEDLES = (b'<row r="', b"<row r='")
_XML_DECL_ENC_RE = re.compile(rb"encoding[ \t\r\n]*=[ \t\r\n]*[\"']([^\"']+)[\"']")
# Strict width scan: byte-level, since cell tags and refs are pure ASCII
# markup (multi-byte UTF-8 sequences never contain ASCII bytes). Every
# cell tag must carry an uppercase r ref, else the width is unprovable.
_CELL_TAG_RE = re.compile(rb"<c[\s/>]")
_CELL_TAG_REF_RE = re.compile(rb'<c\b[^>]*?\br="([A-Z]+)[0-9]+"')

# ~12 MiB of decompressed XML per slice task (~1 s of expat parse —
# well above scheduling overhead, guide §2.2). ONE constant (ADVICE
# r11): the slice floor (spool_sheet) and the slice-count divisor
# (slice_scan_tasks) both reference it.
SLICE_TARGET_BYTES = 12 << 20


def _next_rfirst(buf: bytes, pos: int) -> tuple[int, int]:
    """(offset, needle length) of the first strict ``<row r=`` start at
    or after ``pos`` in ``buf``, or (-1, 0)."""
    best, blen = -1, 0
    for nd in _ROW_RFIRST_NEEDLES:
        p = buf.find(nd, pos)
        if p >= 0 and (best < 0 or p < best):
            best, blen = p, len(nd)
    return best, blen


_DIM_TAG = f"{_NS_MAIN}dimension"
_SHEETDATA_TAG = f"{_NS_MAIN}sheetData"


def _col_letters_to_index(letters: str) -> int:
    """'A' -> 0, 'B' -> 1, ..., 'AA' -> 26."""
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


_format_number = format_general  # Excel 'General' rendering (formats.py)


class _SheetHandler:
    """expat callbacks assembling (row_idx, {col: value}) tuples.

    Matches element local names (namespace-agnostic: standard files use
    the spreadsheetml default namespace, but bare names also occur).
    Semantics mirror the reference's SheetContentsHandler: declared row/
    cell refs win over sequential position; blank-but-present cells
    become ``""``; per-cell errors honor continue_on_error.
    """

    __slots__ = (
        "shared", "continue_on_error", "out", "row_idx", "cells", "seq_col",
        "col", "ctype", "capture", "text", "saw_value", "in_is", "col_cache",
        "renderers", "style", "in_rph",
    )

    def __init__(
        self,
        shared: list[str],
        continue_on_error: bool,
        renderers: list | None = None,
    ) -> None:
        self.shared = shared
        self.continue_on_error = continue_on_error
        self.renderers = renderers or []
        self.out: list[tuple[int, dict[int, str]]] = []
        self.row_idx = -1
        self.cells: dict[int, str] = {}
        self.seq_col = 0
        self.col = 0
        self.ctype = "n"
        self.style = None
        self.capture = False
        self.text: str | None = None
        self.saw_value = False
        self.in_is = False
        self.in_rph = False
        self.col_cache: dict[str, int] = {}

    # branch order in start/end follows element frequency: v/c dominate
    # (one each per cell), then row, then the rare is/t/rPh inline-string
    # elements. buffer_text=True means chars() usually fires once per
    # cell, so the text accumulator is a plain slot, not a list.

    def start(self, name: str, attrs: dict[str, str]) -> None:
        local = name.rpartition(":")[2] if ":" in name else name
        if local == "v":
            self.capture = True
            self.saw_value = True
        elif local == "c":
            ref = attrs.get("r")
            if ref:
                letters = ref.rstrip("0123456789")
                col = self.col_cache.get(letters)
                if col is None:
                    col = _col_letters_to_index(letters)
                    self.col_cache[letters] = col
                self.col = col
            else:
                self.col = self.seq_col
            self.seq_col = self.col + 1
            self.ctype = attrs.get("t", "n")
            self.style = attrs.get("s")
            self.text = None
            self.saw_value = False
        elif local == "row":
            declared = attrs.get("r")
            self.row_idx = int(declared) - 1 if declared else self.row_idx + 1
            self.cells = {}
            self.seq_col = 0
        elif local == "is":
            self.in_is = True
        elif local == "rPh":
            self.in_rph = True
        elif local == "t":
            if self.in_is and not self.in_rph:
                self.capture = True
                self.saw_value = True

    def end(self, name: str) -> None:
        local = name.rpartition(":")[2] if ":" in name else name
        if local == "v" or local == "t":
            self.capture = False
        elif local == "c":
            try:
                self.cells[self.col] = self._value()
            except Exception as e:
                if not self.continue_on_error:
                    raise ConversionError(
                        f"row {self.row_idx} col {self.col}: bad cell: {e}"
                    ) from e
        elif local == "row":
            self.out.append((self.row_idx, self.cells))
        elif local == "is":
            self.in_is = False
        elif local == "rPh":
            self.in_rph = False

    def chars(self, data: str) -> None:
        if self.capture:
            t = self.text
            self.text = data if t is None else t + data

    def _value(self) -> str:
        if not self.saw_value:
            return ""
        raw = self.text or ""
        ctype = self.ctype
        if ctype == "n":
            style = self.style
            if style is not None:
                try:
                    fn = self.renderers[int(style)]
                except (ValueError, IndexError):
                    fn = None
                if fn is not None:
                    return fn(raw)
            return _format_number(raw)
        if ctype == "inlineStr":
            return raw
        if ctype == "s":
            return self.shared[int(raw)]
        if ctype == "b":
            return "TRUE" if raw.strip() == "1" else "FALSE"
        if ctype in ("str", "e"):
            return raw
        return _format_number(raw)


class XlsxWorkbook:
    """Random-access wrapper over an xlsx archive with safety caps.

    Accepts a filesystem path or raw bytes (the Spark reader hands the
    ``binaryFile`` content column straight in — no local temp file).
    """

    def __init__(
        self,
        source: str | bytes,
        *,
        min_inflate_ratio: float = DEFAULT_MIN_INFLATE_RATIO,
        max_entry_size: int = DEFAULT_MAX_ENTRY_SIZE,
    ) -> None:
        self._name = source if isinstance(source, str) else "<bytes>"
        try:
            self._zf = zipfile.ZipFile(
                source if isinstance(source, str) else io.BytesIO(source)
            )
        except (zipfile.BadZipFile, NotImplementedError, EOFError, ValueError) as e:
            raise ConversionError(f"not a valid xlsx (zip) file: {self._name}: {e}") from e
        self._check_zip_bomb(min_inflate_ratio, max_entry_size)
        self._sheets = self._read_sheet_map()
        self._renderers: list | None = None  # lazy, cached per workbook

    def _check_zip_bomb(self, min_ratio: float, max_entry: int) -> None:
        for info in self._zf.infolist():
            if info.file_size > max_entry:
                raise ZipBombDetectedError(
                    f"{self._name}:{info.filename} expands to {info.file_size} bytes "
                    f"(cap {max_entry})"
                )
            if (
                info.compress_size > 0
                and info.file_size > 0
                and info.compress_size / info.file_size < min_ratio
            ):
                raise ZipBombDetectedError(
                    f"{self._name}:{info.filename} inflate ratio "
                    f"{info.compress_size / info.file_size:.5f} below minimum {min_ratio}"
                )

    def _read_sheet_map(self) -> list[tuple[str, str]]:
        """[(sheet_name, archive_path)] in workbook order."""
        rels: dict[str, str] = {}
        try:
            with _typed(self._name, "workbook relationships"), self._zf.open(
                "xl/_rels/workbook.xml.rels"
            ) as f:
                for _, el in iterparse(f, events=("end",)):
                    if el.tag == f"{_NS_PKGREL}Relationship":
                        target = el.get("Target", "")
                        if target.startswith("/"):
                            target = target[1:]
                        elif not target.startswith("xl/"):
                            target = "xl/" + target
                        rels[el.get("Id", "")] = target
                    el.clear()
        except KeyError as e:
            raise ConversionError(f"missing workbook relationships: {self._name}") from e
        sheets: list[tuple[str, str]] = []
        self._date1904 = False
        try:
            with _typed(self._name, "workbook.xml"), self._zf.open(
                "xl/workbook.xml"
            ) as f:
                for _, el in iterparse(f, events=("end",)):
                    if el.tag == f"{_NS_MAIN}sheet":
                        rid = el.get(f"{_NS_REL}id", "")
                        name = el.get("name", "")
                        if rid in rels:
                            sheets.append((name, rels[rid]))
                    elif el.tag == f"{_NS_MAIN}workbookPr":
                        # Mac-origin 1904 date system (POI honors this)
                        self._date1904 = el.get("date1904", "0").lower() in ("1", "true")
                    el.clear()
        except KeyError as e:
            raise ConversionError(f"missing workbook.xml: {self._name}") from e
        if not sheets:
            raise ConversionError(f"workbook has no sheets: {self._name}")
        return sheets

    @property
    def sheet_names(self) -> list[str]:
        return [name for name, _ in self._sheets]

    def _shared_strings(self) -> list[str]:
        """Full shared-strings table, loaded once per workbook — the live
        reference does the same (ReadOnlySharedStringsTable,
        UserModeEventConversionStrategy.java:120-127); the lazy LRU
        variant is dead code there (SURVEY.md §2.1 S5) and an
        O(rescan-per-miss) anti-pattern not worth reproducing."""
        try:
            with _typed(self._name, "shared strings"):
                f = self._zf.open("xl/sharedStrings.xml")
        except KeyError:
            return []
        strings: list[str] = []
        with _typed(self._name, "shared strings"), f:
            parts: list[str] = []
            in_rph = 0
            root = None
            for event, el in iterparse(f, events=("start", "end")):
                if event == "start":
                    if root is None:
                        root = el
                    elif el.tag == f"{_NS_MAIN}rPh":
                        in_rph += 1
                    continue
                if el.tag == f"{_NS_MAIN}rPh":
                    in_rph -= 1
                elif el.tag == f"{_NS_MAIN}t":
                    # skip phonetic ruby runs: POI's shared-strings table
                    # concatenates only the visible <t> text
                    if not in_rph:
                        parts.append(el.text or "")
                elif el.tag == f"{_NS_MAIN}si":
                    strings.append("".join(parts))
                    parts = []
                    # iterparse attaches every <si> to the <sst> root;
                    # clearing alone would keep one empty Element per
                    # entry alive beside the strings
                    el.clear()
                    root.clear()
        return strings

    def _style_renderers(self) -> list:
        """Per-cellXfs-index render callables (None = General fast path),
        compiled once per workbook from ``xl/styles.xml``."""
        if self._renderers is None:
            try:
                with _typed(self._name, "styles"):
                    f = self._zf.open("xl/styles.xml")
            except KeyError:
                self._renderers = []
            else:
                with _typed(self._name, "styles"), f:
                    codes = parse_styles(f)
                self._renderers = [_renderer_for(c, self._date1904) for c in codes]
        return self._renderers

    def resolve_sheet(
        self, sheet_name: str | None = None, sheet_index: int | None = None
    ) -> str:
        """Resolve target sheet to its archive path.

        Precedence: index first, then name, then first sheet — the
        documented EasyExcel-path order (SURVEY.md §2.1 S4 decision:
        index-first; StreamingConversionStrategy.java:83-92). A missing
        name/index raises with the available-sheet list, matching
        UserModeEventConversionStrategy.java:156-161.
        """
        if sheet_index is not None:
            if not 0 <= sheet_index < len(self._sheets):
                raise SheetNotFoundError(
                    f"sheet index {sheet_index} out of range; workbook has "
                    f"{len(self._sheets)} sheets: {self.sheet_names}"
                )
            return self._sheets[sheet_index][1]
        if sheet_name is not None:
            for name, path in self._sheets:
                if name == sheet_name:
                    return path
            raise SheetNotFoundError(
                f"sheet {sheet_name!r} not found; available sheets: {self.sheet_names}"
            )
        return self._sheets[0][1]

    def iter_rows(
        self,
        sheet_name: str | None = None,
        sheet_index: int | None = None,
        *,
        continue_on_error: bool = False,
    ) -> Iterator[tuple[int, dict[int, str]]]:
        """Yield (0-based row index, {0-based col index: string value}).

        Single pass, constant memory: each ``row`` element is cleared
        after emission. Sheet row order is preserved (the reference's
        contract-level guarantee, SURVEY.md §1.1). Rows that are
        present-but-empty in the XML yield ``{}`` — matching the live
        inline handler, which does NOT skip empties (SURVEY.md §2.2 R3).

        ``continue_on_error`` is the reference's per-row error policy
        (ExcelRowListener.java:245-271): malformed cells are skipped
        (True) or raise ConversionError (False).
        """
        path = self.resolve_sheet(sheet_name, sheet_index)
        f = self._open_part(path)
        yield from self._sax_rows(
            path, f, iter(lambda: f.read(1 << 16), b""), continue_on_error
        )

    def _open_part(self, path: str):
        try:
            with _typed(self._name, f"sheet part {path}"):
                return self._zf.open(path)
        except KeyError as e:
            raise ConversionError(f"sheet part {path} missing in archive") from e

    def _sax_rows(
        self, path: str, f, chunks: Iterator[bytes], continue_on_error: bool
    ) -> Iterator[tuple[int, dict[int, str]]]:
        """The one parse loop: feed ``chunks`` (read from the open stream
        ``f``, closed on exit) through expat and yield the rows. expat
        SAX is ~2x faster than iterparse on wide sheets; push events
        accumulate into ``handler.out``, drained after each chunk, so
        this stays a constant-memory generator."""
        with _typed(self._name, f"sheet part {path}"), f:
            handler = _SheetHandler(
                self._shared_strings(), continue_on_error, self._style_renderers()
            )
            # No expat namespace processing (it costs ~40%); sheet
            # elements are matched by prefix-agnostic local name instead.
            parser = _expat.ParserCreate()
            parser.buffer_text = True
            parser.StartElementHandler = handler.start
            parser.EndElementHandler = handler.end
            parser.CharacterDataHandler = handler.chars
            try:
                for chunk in chunks:
                    parser.Parse(chunk, False)
                    if handler.out:
                        yield from handler.out
                        handler.out.clear()
                parser.Parse(b"", True)
            except _expat.ExpatError as e:
                raise ConversionError(f"malformed sheet XML in {path}: {e}") from e
            yield from handler.out

    def sheet_dimension(
        self, sheet_name: str | None = None, sheet_index: int | None = None
    ) -> tuple[int, int] | None:
        """(n_rows, n_cols) from the sheet's ``dimension`` element, or
        None if absent/unparseable. O(1): stops at the first sheetData
        element. Lets readers size schemas without a full scan."""
        path = self.resolve_sheet(sheet_name, sheet_index)
        try:
            f = self._zf.open(path)
        except KeyError:
            return None
        # Contract is "None if absent/unparseable": a corrupt dimension
        # probe degrades to a full-scan schema sizing; iter_rows will
        # still raise the typed error when the sheet is actually read.
        try:
            with f:
                for event, el in iterparse(f, events=("start",)):
                    if el.tag == _DIM_TAG:
                        ref = el.get("ref", "")
                        if ":" in ref:
                            m = _CELL_REF_RE.match(ref.split(":")[1])
                            if m:
                                return int(m.group(2)), _col_letters_to_index(m.group(1)) + 1
                        return None
                    if el.tag == _SHEETDATA_TAG:
                        return None
        except (RuntimeError, *_CORRUPT_ARCHIVE_ERRORS):
            return None
        return None

    def sheet_max_col(
        self, sheet_name: str | None = None, sheet_index: int | None = None
    ) -> int | None:
        """Max 0-based column index of any cell in the sheet, from a
        LIGHT structural scan (regex over the decompressed stream — no
        per-element callbacks, no value rendering), or None when the
        scan cannot be strict about it (a cell without an ``r`` ref,
        lowercase refs, CDATA/comments that could hide or fabricate
        cell tags). None degrades to the caller's full iter_rows scan;
        like sheet_dimension, malformed XML surfaces later when the
        sheet is actually read. ~10x faster than the full parse on the
        1.2M-row bench sheet (the r11 header-inference fix: a sheet
        with no ``dimension`` element was fully parsed TWICE per
        conversion, once on the driver just to size the schema)."""
        path = self.resolve_sheet(sheet_name, sheet_index)
        try:
            f = self._zf.open(path)
        except KeyError:
            return None
        n_open = n_ref = 0
        max_col = -1
        carry = b""
        try:
            with _typed(self._name, f"sheet part {path}"), f:
                while True:
                    raw = f.read(1 << 20)
                    buf = carry + raw
                    if b"<![" in buf or b"<!--" in buf:
                        return None
                    if raw:
                        # keep the (possibly split) trailing tag for the
                        # next chunk; a tag is < ~1 KB, so the carry is
                        # bounded — a longer one means we are inside
                        # text, where no '<' can legally occur unescaped
                        cut = buf.rfind(b"<")
                        if cut == -1 or len(buf) - cut > 4096:
                            carry = b""
                        else:
                            carry, buf = buf[cut:], buf[:cut]
                    o, r, m = _cell_width(buf, len(buf))
                    n_open, n_ref, max_col = n_open + o, n_ref + r, max(max_col, m)
                    if not raw:
                        break
        except ConversionError:
            return None
        # strictness: every <c …> must have carried an uppercase r ref
        # (else sequential cell positions apply and only the full scan
        # knows the width); zero cells also degrades, so the full scan
        # raises its usual no-rows error
        return max_col if n_open == n_ref and max_col >= 0 else None

    def iter_rows_slice(
        self,
        sheet_name: str | None = None,
        sheet_index: int | None = None,
        *,
        start: int,
        end: int,
        continue_on_error: bool = False,
        spool_path: str | None = None,
    ) -> Iterator[tuple[int, dict[int, str]]]:
        """:meth:`iter_rows` over one ``(start, end)`` byte slice of the
        decompressed sheet XML from :func:`combine_slice_scans`. A slice
        is a run of whole ``row`` elements whose first row declares
        ``r="N"``, so the declared row indices reproduce the serial row
        numbering exactly.

        ``spool_path``: a raw decompressed copy of the sheet XML (the
        plan's spool). When present on this machine the slice is read
        with one ``seek`` instead of re-inflating the entry up to
        ``start``; when absent (e.g. a task on another host) the entry
        is re-inflated — same bytes either way."""
        path = self.resolve_sheet(sheet_name, sheet_index)
        if spool_path is not None and os.path.exists(spool_path):
            f = open(spool_path, "rb")
            f.seek(start)
        else:
            f = self._open_part(path)

        def chunks() -> Iterator[bytes]:
            # a synthetic root makes the run of whole rows a well-formed
            # document for expat
            yield b"<sliceroot>"
            skip = start - f.tell() if f.seekable() else start
            while skip > 0:
                got = f.read(min(1 << 20, skip))
                if not got:
                    raise ConversionError(
                        f"sheet part {path} truncated before slice offset {start}"
                    )
                skip -= len(got)
            remaining = end - start
            while remaining > 0:
                chunk = f.read(min(1 << 16, remaining))
                if not chunk:
                    raise ConversionError(
                        f"sheet part {path} truncated inside slice [{start}, {end})"
                    )
                remaining -= len(chunk)
                yield chunk
            yield b"</sliceroot>"

        yield from self._sax_rows(path, f, chunks(), continue_on_error)

    def spool_sheet(
        self,
        sheet_name: str | None = None,
        sheet_index: int | None = None,
        *,
        spool_path: str,
    ) -> dict | None:
        """Stream ONE sheet's decompressed XML to ``spool_path`` — the
        only inherently serial step of slice planning (one DEFLATE
        stream cannot be inflated in parallel) — and return the cheap
        stream facts :func:`slice_scan_tasks` needs:
        ``{"file_size", "head" (first 4 KiB), "first_row_off"}`` (the
        first strict ``<row r=`` byte offset). Returns None — the caller
        removes the spool and takes the serial path — on a sheet below
        SLICE_TARGET_BYTES (not worth slicing; nothing is written), a
        missing entry, a decompressed-size mismatch, no strict row tag
        at all, or ANY OSError from the spool write (e.g. ENOSPC:
        degrade to the serial parse, never hard-fail a previously-
        working conversion — ADVICE r11)."""
        path = self.resolve_sheet(sheet_name, sheet_index)
        try:
            info = self._zf.getinfo(path)
            if info.file_size < SLICE_TARGET_BYTES:
                return None
            f = self._zf.open(path)
        except KeyError:
            return None
        head = b""
        first_row_off: int | None = None
        carry = b""
        pos = 0
        try:
            with _typed(self._name, f"sheet part {path}"), f, open(spool_path, "wb") as sp:
                for raw in iter(lambda: f.read(1 << 20), b""):
                    sp.write(raw)
                    if len(head) < 4096:
                        head = (head + raw)[:4096]
                    if first_row_off is None:
                        buf = carry + raw
                        p, _ = _next_rfirst(buf, 0)
                        if p >= 0:
                            first_row_off = pos - len(carry) + p
                        else:
                            carry = buf[-16:]
                    pos += len(raw)
        except (ConversionError, OSError):
            return None
        if pos != info.file_size or first_row_off is None:
            return None
        return {"file_size": pos, "head": head, "first_row_off": first_row_off}

    def close(self) -> None:
        self._zf.close()

    def __enter__(self) -> XlsxWorkbook:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _cell_width(buf: bytes, limit: int) -> tuple[int, int, int]:
    """Strict width counts over the cell tags STARTING before ``limit``
    in ``buf``: (cell tags, tags with an uppercase r ref, max 0-based
    ref column or -1). In well-formed XML a tag ends before the next
    '<', so matching stops at the first '<' at/after ``limit`` and runs
    in ~1 MiB windows cut at a '<': the match lists stay small however
    many cells a scan range holds."""
    stop = buf.find(b"<", limit)
    if stop < 0:
        stop = len(buf)
    n_open = n_ref = 0
    letters: set[bytes] = set()
    pos = 0
    while pos < stop:
        cut = buf.find(b"<", pos + (1 << 20), stop)
        if cut < 0:
            cut = stop
        refs = _CELL_TAG_REF_RE.findall(buf, pos, cut)
        n_ref += len(refs)
        letters.update(refs)
        n_open += len(_CELL_TAG_RE.findall(buf, pos, cut))
        pos = cut
    max_col = max(
        (_col_letters_to_index(s.decode("ascii")) for s in letters), default=-1
    )
    return n_open, n_ref, max_col


# --- the slice planner ------------------------------------------------
# spool_sheet inflates the sheet once; slice_scan_tasks turns its facts
# into byte ranges; scan_slice_range strict-scans each range in
# _SCAN_WINDOW windows (the reader runs them as ONE Spark job);
# combine_slice_scans sums the windows' needle counts, takes first/last
# positions by min/max, and resolves each slice boundary ("first strict
# row start at/after target T") from the window owning T or the first
# later window with a row start. The
# plan refuses — None, the caller parses serially — on:
# * a sheet below SLICE_TARGET_BYTES;
# * a UTF-16 BOM, an unterminated XML declaration, or a declared
#   encoding other than UTF-8/US-ASCII (byte offsets must be ASCII-safe);
# * any '<!' (comment, CDATA, DTD) or any '<?' besides the declaration:
#   either could hide or fabricate row markup from a byte-level scan;
# * any row tag without a first-attribute r= (e.g. '<row>',
#   '<x:row>', '<rowBreaks>'), seen as a loose/strict count mismatch;
# * a first row whose r= has no digits;
# * a row start outside sheetData, or no '</sheetData' at all;
# * fewer than two slices.

_SCAN_OVERLAP = 4096  # > max row-number digits and the width scan's tag carry
# Bytes of spool a scan task holds at once: its range is scanned in
# windows of this size, so scan memory is flat in sheet size.
_SCAN_WINDOW = 4 << 20


def slice_scan_tasks(
    meta: dict, n_par: int
) -> tuple[list[tuple[int, int]], list[int], int | None] | None:
    """The slice policy, in one place: :meth:`XlsxWorkbook.spool_sheet`'s
    facts plus the session parallelism -> the strict scan's tasks
    ``(ranges, targets, decl_q_pos)``, or None when the spool's head
    refuses. About one SLICE_TARGET_BYTES of XML per slice, at most
    ``n_par`` slices. ``targets`` are the byte-even slice boundaries
    between the first row and the end of the sheet; ``ranges`` cut the
    whole spool into one scan range per slice; ``decl_q_pos`` is the
    offset of the XML declaration's '<?' (None without one)."""
    head = meta["head"]
    if head[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return None
    decl_q_pos = None
    stripped = head.lstrip(b"\xef\xbb\xbf \t\r\n")
    if stripped.startswith(b"<?xml"):
        decl_end = head.find(b"?>")
        if decl_end == -1:
            return None
        m = _XML_DECL_ENC_RE.search(head[:decl_end])
        if m and m.group(1).lower() not in (b"utf-8", b"us-ascii"):
            return None
        decl_q_pos = len(head) - len(stripped)
    size, frf = meta["file_size"], meta["first_row_off"]
    n = min(n_par, max(2, size // SLICE_TARGET_BYTES))
    targets = [frf + (k * (size - frf)) // n for k in range(1, n)]
    ranges = [((j * size) // n, ((j + 1) * size) // n) for j in range(n)]
    return ranges, targets, decl_q_pos


def scan_slice_range(
    spool_path: str,
    lo: int,
    hi: int,
    targets: list[int],
    decl_q_pos: int | None,
    want_width: bool,
) -> list[dict]:
    """Strict-scan ONE byte range [lo, hi) of a spooled sheet XML (the
    per-task body of the slice plan), one _SCAN_WINDOW at a time, so a
    task holds one window however big the sheet is. Returns one plain
    picklable dict per window for :func:`combine_slice_scans`, which
    treats windows exactly as it treats ranges."""
    with open(spool_path, "rb") as f:
        return [
            _scan_window(f, w, min(w + _SCAN_WINDOW, hi), targets, decl_q_pos, want_width)
            for w in range(lo, hi, _SCAN_WINDOW)
        ]


def _scan_window(
    f, lo: int, hi: int, targets: list[int], decl_q_pos: int | None, want_width: bool
) -> dict:
    """Strict-scan [lo, hi) of the open spool ``f``. Only occurrences
    that START inside [lo, hi) count; the overlap read past ``hi`` lets
    needles, row-number digits and cell tags that straddle the window
    edge resolve here without being double-counted by the next window."""
    n = hi - lo
    f.seek(lo)
    buf = f.read(n + _SCAN_OVERLAP)
    limit = min(n, len(buf))

    def first_pos(needle: bytes) -> int | None:
        p = buf.find(needle)
        return p if 0 <= p < limit else None

    q0 = buf.find(b"<?")
    if q0 >= 0 and decl_q_pos is not None and lo + q0 == decl_q_pos:
        q0 = buf.find(b"<?", q0 + 1)
    last_loose = buf.rfind(_ROW_SUPER_NEEDLE, 0, limit + len(_ROW_SUPER_NEEDLE) - 1)
    out = {
        "lo": lo,
        "n_loose": buf.count(_ROW_SUPER_NEEDLE, 0, limit + len(_ROW_SUPER_NEEDLE) - 1),
        "n_rfirst": sum(
            buf.count(nd, 0, limit + len(nd) - 1) for nd in _ROW_RFIRST_NEEDLES
        ),
        "bang": first_pos(b"<!"),
        "qm": q0 if 0 <= q0 < limit else None,
        "sd": first_pos(b"</sheetData"),
        "last_loose": lo + last_loose if last_loose >= 0 else None,
        "first_rf": None,
        "bad_first_digits": False,
        "first_ok": None,
        "bounds": {},
    }
    # Walk strict row starts only as far as needed: the window's first
    # one, its first with a digit after r= ("ok"), and the first ok one
    # at/after each in-window target. Slices start only at ok rows: the
    # handler numbers a digit-less r="" row from the row before it,
    # which a slice starting there would not have.
    tq = sorted(t - lo for t in targets if lo <= t < hi)
    pos = 0
    while True:
        p, plen = _next_rfirst(buf, pos)
        if p < 0 or p >= limit:
            break
        ok = buf[p + plen : p + plen + 1].isdigit()
        if out["first_rf"] is None:
            out["first_rf"], out["bad_first_digits"] = lo + p, not ok
        if ok:
            if out["first_ok"] is None:
                out["first_ok"] = lo + p
            while tq and tq[0] <= p:
                out["bounds"][lo + tq.pop(0)] = lo + p
            if not tq:
                break
        pos = p + 1
    if want_width:
        out["n_open"], out["n_ref"], out["max_col"] = _cell_width(buf, limit)
    return out


def combine_slice_scans(
    results: list[dict],
    *,
    first_row_off: int,
    targets: list[int],
    want_width: bool,
) -> tuple[list[tuple[int, int]] | None, int | None]:
    """Driver-side combine of the windows of every
    :func:`scan_slice_range` result, in one flat list, into the
    slice plan ``[(start, end)]`` — each slice starts at a row element's
    ``<`` and ends at the next slice's start (the last at
    ``</sheetData``) — plus the strict max-column width when requested.
    Returns (None, None) — serial fallback — on any refusal."""
    results = sorted(results, key=lambda r: r["lo"])
    if any(r["bang"] is not None or r["qm"] is not None for r in results):
        return None, None
    n_loose = sum(r["n_loose"] for r in results)
    n_rfirst = sum(r["n_rfirst"] for r in results)
    sd_close = min(
        (r["lo"] + r["sd"] for r in results if r["sd"] is not None), default=None
    )
    frf = min((r["first_rf"] for r in results if r["first_rf"] is not None), default=None)
    last_loose = max(
        (r["last_loose"] for r in results if r["last_loose"] is not None), default=None
    )
    if (
        n_loose != n_rfirst
        or n_loose == 0
        or sd_close is None
        or frf != first_row_off
        or frf > sd_close
        or any(r["bad_first_digits"] and r["first_rf"] == frf for r in results)
        or (last_loose is not None and last_loose > sd_close)
    ):
        return None, None

    def boundary(t: int) -> int | None:
        for r in results:
            if t in r["bounds"]:
                return r["bounds"][t]
            # t's own window ran out of rows past t: the first later
            # window's first ok row start is the first at/after t
            if r["lo"] > t and r["first_ok"] is not None:
                return r["first_ok"]
        return None

    starts = [first_row_off]
    for t in targets:
        b = boundary(t)
        if b is not None and starts[-1] < b < sd_close:
            starts.append(b)
    if len(starts) < 2:
        return None, None
    width: int | None = None
    if want_width:
        mc = max(r["max_col"] for r in results)
        if sum(r["n_open"] for r in results) == sum(r["n_ref"] for r in results) and mc >= 0:
            width = mc
    return list(zip(starts, starts[1:] + [sd_close])), width
