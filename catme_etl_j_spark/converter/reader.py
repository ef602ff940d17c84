"""Spark DataFrame reader for XLSX: the one home of xlsx scanning.

SURVEY.md §2.1 chose option (b): the driver lists the input and plans
ordered work units; executor tasks stream each unit's sheet XML with
the constant-memory stdlib parser (xlsx.py) and emit Arrow record
batches via ``mapInArrow`` (columnar build, no pandas round-trip).
100 TB posture: one sheet's XML is one unsplittable DEFLATE stream
(SURVEY.md §7.7.1), so parallelism is per work unit — a file, a
(file, sheet), or a verified byte slice of one big local sheet. A
large corpus must be many files, and this reader scales linearly with
file count while each task stays bounded-memory.

Every read is three steps, shared by ``read_xlsx`` and the
``format("xlsx")`` DataSource (sources/xlsx_datasource.py):

* **plan** — ``plan_units``: one unit per file in sorted path order,
  one per (file, sheet) where the caller wants that grain, or
  ``_plan_slices``'s byte slices of a single big sheet;
* **infer** — ``infer_columns`` on the first file;
* **parse** — ``parse_unit`` turns one unit into Arrow batches.

Schema binding (reference semantics, SURVEY.md §2.2 R1/R2/R5):
* the header row's cell strings become column names;
* empty header cells fall back to the stringified column index
  (NdjsonDataWriter.java:135-141);
* data columns beyond the header get stringified-index names — bound
  BY COLUMN INDEX, deliberately not the reference's positional-shift
  lookup (documented divergence, SURVEY.md §7.7.4);
* duplicate header names get ``_2``/``_3`` suffixes (the reference
  would emit duplicate JSON keys — divergence, SURVEY.md §7.7.4);
* rows before ``header_row`` are dropped (R2).

Cell conventions: a cell present-but-blank in the XML -> ``""``;
a cell absent from the XML -> null (so NDJSON output can omit it,
matching the EasyExcel path, while CSV pads it).

Row order: ``_file`` + ``_row_idx`` (0-based sheet row), and
``_sheet_idx`` on multi-sheet reads, are carried so ordered sinks can
restore sheet order (SURVEY.md §1.5). A local read places its units in
partitions as contiguous runs of the planned order, so its partitions
are already in global (file, sheet, row) order with rows ordered inside
each; the frame carries ``_catme_partition_ordered`` and the ordered
NDJSON sink concatenates its partitions with no exchange and no sort.
Any transformation drops the mark, and remote reads never carry it:
those frames take the sorting sink.
"""

from __future__ import annotations

import atexit
import contextlib
import logging
import os
import re
import tempfile
from collections.abc import Iterator
from dataclasses import dataclass, replace
from urllib.parse import unquote, urlparse

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from catme_etl_j_spark.converter.errors import ConversionError
from catme_etl_j_spark.converter.xlsx import (
    DEFAULT_MAX_ENTRY_SIZE,
    DEFAULT_MIN_INFLATE_RATIO,
    XlsxWorkbook,
    combine_slice_scans,
    scan_slice_range,
    slice_scan_tasks,
)

# Cell text per emitted Arrow batch: a batch is cut by bytes, not rows,
# so its memory is flat in row width as well as row count.
_BATCH_BYTES = 1 << 20

_log = logging.getLogger(__name__)

# Spool files written by the slice planner (raw decompressed sheet
# XML) must outlive the returned LAZY frame — tasks may run any time
# before process exit — so they are reaped at interpreter shutdown.
# ADVICE r11: a session converting many big workbooks must not grow
# temp-disk without bound, so registration also retires the OLDEST
# spools past a byte cap — slice tasks transparently fall back to
# re-inflating the archive entry when their spool is gone
# (iter_rows_slice's documented spool-missing path).
_SPOOLS: list[str] = []
_SPOOL_CAP_BYTES = int(os.environ.get("CATME_SPOOL_CAP_BYTES", str(2 << 30)))


def _register_spool(p: str) -> None:
    _SPOOLS.append(p)
    sizes = []
    total = 0
    for q in _SPOOLS:
        try:
            s = os.path.getsize(q)
        except OSError:
            s = 0
        sizes.append(s)
        total += s
    while total > _SPOOL_CAP_BYTES and len(_SPOOLS) > 1:
        old = _SPOOLS.pop(0)
        total -= sizes.pop(0)
        with contextlib.suppress(OSError):
            os.remove(old)


def _reap_spools() -> None:
    for p in _SPOOLS:
        with contextlib.suppress(OSError):
            os.remove(p)


atexit.register(_reap_spools)


_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


def _as_local_path(path: str) -> str | None:
    """Filesystem path of a ``file:`` or scheme-less path, else None (a
    remote filesystem). binaryFile's path column holds the DECODED
    Hadoop path (``file:/d/a b#1.xlsx``), so nothing is unquoted: a
    name with ``%20``, ``#`` or ``?`` in it is taken literally."""
    m = _SCHEME.match(path)
    if m is None:
        return path
    return path[m.end() :] if m.group(0).lower() == "file:" else None


def _dedupe(names: list[str]) -> list[str]:
    """Greedy header dedup: second ``a`` becomes ``a_2``, probing past
    names already taken — ``[a, a, a_2]`` must NOT emit ``a_2`` twice
    (the naive counter did, yielding a schema with duplicate columns
    and silently colliding NDJSON keys)."""
    taken: set[str] = set()
    out = []
    for n in names:
        cand, k = n, 1
        while cand in taken:
            k += 1
            cand = f"{n}_{k}"
        taken.add(cand)
        out.append(cand)
    return out


def infer_columns(
    content: bytes | str,
    *,
    sheet_name: str | None,
    sheet_index: int | None,
    header_row: int,
    min_inflate_ratio: float,
    max_entry_size: int,
    max_col_override: int | None = None,
) -> list[str]:
    """Scan one workbook for the header row and the sheet's max width;
    returns final column names. Constant memory (single streaming pass).

    The width comes from the first source that can give it:
    ``max_col_override`` (a width already established by an equivalent
    strict scan — the slice plan's, reader-internal), the sheet's
    ``dimension`` element, the light structural scan, or else a full
    parse. Only the full parse reads past the header row.

    The light scan sizes a dimension-less sheet ~10x faster than a full
    parse (which cost ~40 s on the driver for the 1.2M-row bench sheet).
    It is only equivalent when every row counts (header_row == 0 — the
    full scan ignores pre-header rows), and returns None when it cannot
    be strict (cells without refs, CDATA/comments)."""
    with XlsxWorkbook(
        content, min_inflate_ratio=min_inflate_ratio, max_entry_size=max_entry_size
    ) as wb:
        max_col = max_col_override
        if max_col is None:
            dim = wb.sheet_dimension(sheet_name, sheet_index)
            if dim is not None:
                max_col = dim[1] - 1
            elif header_row == 0:
                max_col = wb.sheet_max_col(sheet_name, sheet_index)
        full_scan = max_col is None
        if full_scan:
            max_col = -1
        header: dict[int, str] = {}
        for row_idx, cells in wb.iter_rows(sheet_name, sheet_index):
            if row_idx == header_row:
                header = cells
            if row_idx >= header_row:
                if not full_scan:
                    break
                if cells:
                    max_col = max(max_col, max(cells))
    if max_col < 0:
        raise ConversionError("sheet has no rows at or after the header row")
    names = []
    for i in range(max_col + 1):
        h = header.get(i, "")
        names.append(h if h != "" else str(i))
    return _dedupe(names)


# A work unit: (path, sheet_idx, sheet, start, end). ``sheet`` is None
# unless the unit is one (file, sheet) of a multi-sheet read; ``start``
# and ``end`` are None unless the unit is a byte slice of a spooled
# sheet. Units are planned in output order.
Unit = tuple[str, int | None, str | None, int | None, int | None]
_UNIT_DDL = "path string, sheet_idx long, sheet string, s_start long, s_end long"


@dataclass(frozen=True)
class Scan:
    """What every parse task of one read shares: the read options, the
    inferred data columns and, for a sliced sheet, the plan's spool.

    ``sheet_name`` may be a single name, ``"*"`` (every sheet of every
    workbook, in workbook order), or a list of names (those, in the
    given order); the last two make a multi-sheet read, whose frames
    carry ``_sheet_idx``/``_sheet`` meta columns."""

    sheet_name: str | list[str] | None = None
    sheet_index: int | None = None
    header_row: int = 0
    continue_on_error: bool = False
    min_inflate_ratio: float = DEFAULT_MIN_INFLATE_RATIO
    max_entry_size: int = DEFAULT_MAX_ENTRY_SIZE
    columns: tuple[str, ...] = ()
    spool: str | None = None

    def __post_init__(self) -> None:
        if self.multi and self.sheet_index is not None:
            raise ConversionError("sheet_index cannot be combined with multi-sheet sheet_name")

    @property
    def multi(self) -> bool:
        return self.sheet_name == "*" or isinstance(self.sheet_name, (list, tuple))

    def workbook(self, source: str | bytes) -> XlsxWorkbook:
        return XlsxWorkbook(
            source,
            min_inflate_ratio=self.min_inflate_ratio,
            max_entry_size=self.max_entry_size,
        )

    def sheets(self, wb: XlsxWorkbook) -> list[tuple[int | None, str | None]]:
        """``(sheet_idx, sheet)`` targets of one workbook, in output order;
        ``sheet_idx`` is None on a single-sheet read."""
        if not self.multi:
            return [(None, self.sheet_name)]
        return list(enumerate(wb.sheet_names if self.sheet_name == "*" else self.sheet_name))

    def infer(self, source: str | bytes, max_col_override: int | None = None) -> Scan:
        """This scan with its columns inferred from ``source``; a
        multi-sheet read takes them from its first named (or the
        first) sheet — all sheets must share the header layout."""
        if self.sheet_name == "*":
            sheet = None
        else:
            sheet = self.sheet_name[0] if self.multi else self.sheet_name
        columns = infer_columns(
            source,
            sheet_name=sheet,
            sheet_index=self.sheet_index,
            header_row=self.header_row,
            min_inflate_ratio=self.min_inflate_ratio,
            max_entry_size=self.max_entry_size,
            max_col_override=max_col_override,
        )
        return replace(self, columns=tuple(columns))

    @property
    def schema(self) -> T.StructType:
        meta = [("_file", T.StringType())]
        if self.multi:
            meta += [("_sheet_idx", T.LongType()), ("_sheet", T.StringType())]
        meta.append(("_row_idx", T.LongType()))
        return T.StructType(
            [T.StructField(n, t, False) for n, t in meta]
            + [T.StructField(c, T.StringType(), True) for c in self.columns]
        )


def plan_units(scan: Scan, paths: list[str], *, per_sheet: bool = False) -> list[Unit]:
    """Ordered work units for ``paths`` (already sorted): one per file,
    or one per (file, sheet) of a multi-sheet read when ``per_sheet``
    (listing sheets reads only each zip's central directory and
    workbook.xml)."""
    if not (per_sheet and scan.multi):
        return [(p, None, None, None, None) for p in paths]
    units: list[Unit] = []
    for p in paths:
        with scan.workbook(_as_local_path(p)) as wb:
            units.extend((p, i, nm, None, None) for i, nm in scan.sheets(wb))
    return units


def _flush(
    pa_schema: pa.Schema, meta: tuple, idxs: list[int], rows: list[dict]
) -> pa.RecordBatch:
    # Columnar batch building: one C-speed list comprehension per
    # column instead of a Python tuple per row (~2x on wide scans).
    n = len(idxs)
    arrays = [pa.array([v] * n, f.type) for v, f in zip(meta, pa_schema)]
    arrays.append(pa.array(idxs, pa.int64()))
    n_data = len(pa_schema) - len(arrays)
    arrays.extend(pa.array([r.get(i) for r in rows], pa.string()) for i in range(n_data))
    return pa.RecordBatch.from_arrays(arrays, schema=pa_schema)


def parse_unit(
    scan: Scan, unit: Unit, content: bytes | None = None
) -> Iterator[pa.RecordBatch]:
    """The one parse: ``unit``'s data rows as Arrow batches of
    ``scan.schema``, in sheet order, each cut once its rows reach
    _BATCH_BYTES. A row costs its cell string lengths plus 16 per cell
    and 64 per row, so runs of empty rows flush too.
    The workbook is opened from its local path, or from ``content``
    (its bytes) when the file lives on a remote filesystem."""
    path, sheet_idx, sheet, start, end = unit
    pa_schema = to_arrow_schema(scan.schema)
    with scan.workbook(_as_local_path(path) if content is None else content) as wb:
        targets = scan.sheets(wb) if sheet is None else [(sheet_idx, sheet)]
        for s_idx, s_nm in targets:
            if start is None:
                it = wb.iter_rows(
                    s_nm, scan.sheet_index, continue_on_error=scan.continue_on_error
                )
            else:
                it = wb.iter_rows_slice(
                    s_nm,
                    scan.sheet_index,
                    start=start,
                    end=end,
                    continue_on_error=scan.continue_on_error,
                    spool_path=scan.spool,
                )
            meta = (path,) if s_idx is None else (path, s_idx, s_nm)
            idxs: list[int] = []
            rows: list[dict] = []
            size = 0
            for row_idx, cells in it:
                if row_idx <= scan.header_row:
                    continue
                idxs.append(row_idx)
                rows.append(cells)
                size += 64 + 16 * len(cells) + sum(map(len, cells.values()))
                if size >= _BATCH_BYTES:
                    yield _flush(pa_schema, meta, idxs, rows)
                    idxs, rows, size = [], [], 0
            if idxs:
                yield _flush(pa_schema, meta, idxs, rows)


def _plan_slices(
    spark: SparkSession, path: str, spool: str, n_par: int, scan: Scan
) -> tuple[list[tuple[int, int]] | None, int | None]:
    """Spool the sheet and run the strict slice scan as ONE Spark job:
    (slice plan, strict width or None), or (None, None) on any refusal —
    a failed scan job (spool gone, worker lost) included. The driver
    keeps only the inherently serial step, inflating the one DEFLATE
    stream to the spool (~1 s for 492 MB); the scan tasks read byte
    ranges of it in fixed windows (xlsx.slice_scan_tasks /
    scan_slice_range) and also measure the dimension-less width in the
    same pass."""
    with scan.workbook(path) as wb:
        meta = wb.spool_sheet(scan.sheet_name, scan.sheet_index, spool_path=spool)
        want_width = (
            meta is not None
            and scan.header_row == 0
            and wb.sheet_dimension(scan.sheet_name, scan.sheet_index) is None
        )
    tasks = slice_scan_tasks(meta, n_par) if meta is not None else None
    if tasks is None:
        return None, None
    ranges, targets, decl_q = tasks
    try:
        res = (
            spark.sparkContext.parallelize(ranges, len(ranges))
            .flatMap(lambda r: scan_slice_range(spool, r[0], r[1], targets, decl_q, want_width))
            .collect()
        )
    except Exception:
        _log.warning("slice scan job failed; parsing %s serially", path, exc_info=True)
        return None, None
    return combine_slice_scans(
        res, first_row_off=meta["first_row_off"], targets=targets, want_width=want_width
    )


def read_xlsx(
    spark: SparkSession,
    path: str,
    *,
    sheet_name: str | list[str] | None = None,
    sheet_index: int | None = None,
    header_row: int = 0,
    continue_on_error: bool = False,
    min_inflate_ratio: float = DEFAULT_MIN_INFLATE_RATIO,
    max_entry_size: int = DEFAULT_MAX_ENTRY_SIZE,
) -> DataFrame:
    """Read xlsx files under ``path`` into a DataFrame.

    ``sheet_name`` may be a single name, ``"*"`` (union-read every
    sheet of every workbook, in workbook order), or a list of names
    (union-read those, in the given order). Multi-sheet frames carry
    ``_sheet_idx``/``_sheet`` meta columns so ordered sinks restore
    (file, sheet, row) order; all sheets must share the header layout.

    All data columns are StringType (the reference's strings-only type
    system, SURVEY.md §1.2 — type coercion is downstream's job). Multi-
    file reads assume a uniform header; column layout is inferred from
    the lexicographically first file.
    """
    scan = Scan(
        sheet_name=sheet_name,
        sheet_index=sheet_index,
        header_row=header_row,
        continue_on_error=continue_on_error,
        min_inflate_ratio=min_inflate_ratio,
        max_entry_size=max_entry_size,
    )
    # A glob basename goes through pathGlobFilter on the parent dir:
    # same file set, but avoids FileStreamSink's metadata-dir probe on
    # the raw glob, which logs a spurious WARN + FileNotFoundException
    # stack trace on every load.
    base, name = (path.rsplit("/", 1) + [""])[:2] if "/" in path else ("", path)
    reader = spark.read.format("binaryFile")
    if name and any(ch in name for ch in "*?[") and base and not any(
        ch in base for ch in "*?["
    ):
        binary = reader.option("pathGlobFilter", name).load(base)
    else:
        binary = reader.load(path)
    # The one listing, with no Spark job and never any content (the
    # reference's design point is multi-GB files). inputFiles() gives
    # encoded URIs (file:///d/a%20b.xlsx); decoding one gives exactly
    # the path column's string (file:/d/a b.xlsx), which _file carries.
    # Sorted on the driver: Python's code-point order on str is the
    # UTF-8 byte order Spark sorts _file by, so the planned order IS
    # the sorting sink's order.
    uris = binary.inputFiles()
    if not uris:
        raise ConversionError(f"no files matched {path!r}")
    if _as_local_path(uris[0]) is None:
        return _read_remote(binary, scan)
    paths = sorted("file:" + unquote(urlparse(u).path) for u in uris)
    local = _as_local_path(paths[0])
    n_par = int(spark.sparkContext.defaultParallelism)
    units = plan_units(scan, paths)
    width = None
    # Intra-sheet parallelism (guide §2 — one unsplittable stream is a
    # straggler): a single local workbook with one target sheet big
    # enough to matter is byte-sliced at STRICTLY-VERIFIED row
    # boundaries and parsed by N concurrent tasks (_plan_slices). Any
    # refusal removes the spool and keeps the one whole-file unit,
    # which has byte-identical semantics.
    if len(paths) == 1 and not scan.multi and n_par > 1:
        fd, spool = tempfile.mkstemp(prefix="catme_sheet_spool_", suffix=".xml")
        os.close(fd)
        slices = None
        try:
            slices, width = _plan_slices(spark, local, spool, n_par, scan)
        finally:
            if slices is None:
                with contextlib.suppress(OSError):
                    os.remove(spool)
        if slices is not None:
            _register_spool(spool)
            scan = replace(scan, spool=spool)
            units = [(paths[0], None, None, s, e) for s, e in slices]
    scan = scan.infer(local, max_col_override=width)

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for unit in zip(*(c.to_pylist() for c in batch.columns)):
                yield from parse_unit(scan, unit)

    # Bounded-memory path mode (the reference's headline invariant,
    # contract :98/:220-225): tasks get only units and open the archive
    # straight from disk, so zipfile streams the sheet through expat
    # and a batch holds at most _BATCH_BYTES of cell text — task RSS is
    # flat in row count, row width and archive size (measured on 4
    # cores: 492 MB of sheet XML converts with a 125 MB Python-worker
    # VmHWM; the shared-strings table is the one per-task term left,
    # ROADMAP #2). parallelize puts contiguous runs of the unit list in
    # partitions 0..k-1, so the frame is partition-ordered by
    # construction.
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(units, min(len(units), n_par)), _UNIT_DDL
    ).mapInArrow(parse, scan.schema)
    df._catme_partition_ordered = True
    return df


def _read_remote(binary: DataFrame, scan: Scan) -> DataFrame:
    """Files on a filesystem the driver cannot open: the workbook bytes
    travel in binaryFile's ``content`` column. The columns are inferred
    in a one-file executor task that ships back only the names; the
    frame is in binaryFile's partition order, so it is not marked and
    ordered sinks sort it. The content column adds JVM buffering, an
    Arrow transfer and a Python copy of the COMPRESSED archive per file
    — proportional to the file and capped at Spark's 2 GB column limit,
    which the local path mode escapes."""
    first_path = min(r[0] for r in binary.select("path").collect())

    def infer(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for content in batch.column(0):
                names = scan.infer(content.as_py()).columns
                yield pa.RecordBatch.from_arrays([pa.array(names, pa.string())], ["name"])

    columns = [
        r[0]
        for r in binary.filter(F.col("path") == first_path)
        .select("content")
        .mapInArrow(infer, "name string")
        .collect()
    ]
    if not columns:
        raise ConversionError(f"could not infer columns from {first_path!r}")
    scan = replace(scan, columns=tuple(columns))

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for path, content in zip(batch.column(0).to_pylist(), batch.column(1)):
                yield from parse_unit(scan, (path, None, None, None, None), content.as_py())

    return binary.select("path", "content").mapInArrow(parse, scan.schema)
