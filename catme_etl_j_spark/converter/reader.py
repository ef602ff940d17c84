"""Spark DataFrame reader for XLSX (binaryFile + mapInArrow).

SURVEY.md §2.1 chose option (b): ``spark.read.format("binaryFile")``
fans whole files out to executors; each task streams its file's sheet
XML with the constant-memory stdlib parser (xlsx.py) and emits Arrow
record batches via ``mapInArrow`` (columnar build, no pandas
round-trip). 100 TB posture: one sheet's XML is one
unsplittable stream (SURVEY.md §7.7.1), so parallelism is per-file —
a large corpus must be many files, and this reader scales linearly
with file count while each task stays bounded-memory.

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

Row order: ``_row_idx`` (0-based sheet row) + ``_file`` are carried so
ordered single-file sinks can restore sheet order (SURVEY.md §1.5).
"""

from __future__ import annotations

import atexit
import contextlib
import logging
import os
import tempfile
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from catme_etl_j_spark.converter.errors import ConversionError
from catme_etl_j_spark.converter.xlsx import (
    DEFAULT_MAX_ENTRY_SIZE,
    DEFAULT_MIN_INFLATE_RATIO,
    XlsxWorkbook,
    combine_slice_scans,
    scan_slice_range,
    slice_scan_tasks,
)

_BATCH_ROWS = 50_000  # rows per emitted Arrow batch; bounds task memory

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


def _as_local_path(uri: str) -> str | None:
    """``file:``-scheme URI -> filesystem path, else None."""
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        return unquote(parsed.path or uri)
    return None


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

    ``max_col_override``: a width already established by an equivalent
    strict scan (the slice plan's spool width, reader-internal) — only
    the header row is read then."""
    with XlsxWorkbook(
        content, min_inflate_ratio=min_inflate_ratio, max_entry_size=max_entry_size
    ) as wb:
        header: dict[int, str] = {}
        dim = wb.sheet_dimension(sheet_name, sheet_index)
        if max_col_override is not None:
            max_col = max_col_override
            for row_idx, cells in wb.iter_rows(sheet_name, sheet_index):
                if row_idx == header_row:
                    header = cells
                if row_idx >= header_row:
                    break
        elif dim is not None:
            # O(1) width from the sheet's dimension element; only the
            # header row needs reading. (Files without a dimension fall
            # back to the full constant-memory scan below.)
            max_col = dim[1] - 1
            for row_idx, cells in wb.iter_rows(sheet_name, sheet_index):
                if row_idx == header_row:
                    header = cells
                if row_idx >= header_row:
                    break
        else:
            # r11: files without a dimension element used to pay a FULL
            # iter_rows parse here just to size the schema (the 1.2M-row
            # bench sheet parsed twice per conversion, ~40 s of it on
            # the driver). A light structural scan finds the width
            # ~10x faster; it is only equivalent when every row counts
            # (header_row == 0 — the full scan ignores pre-header
            # rows), and degrades to the full scan when it cannot be
            # strict (cells without refs, CDATA/comments).
            max_col = (
                wb.sheet_max_col(sheet_name, sheet_index)
                if header_row == 0
                else None
            )
            if max_col is not None:
                for row_idx, cells in wb.iter_rows(sheet_name, sheet_index):
                    if row_idx == header_row:
                        header = cells
                    if row_idx >= header_row:
                        break
            else:
                max_col = -1
                for row_idx, cells in wb.iter_rows(sheet_name, sheet_index):
                    if row_idx == header_row:
                        header = cells
                    if row_idx >= header_row and cells:
                        max_col = max(max_col, max(cells))
    if max_col < 0:
        raise ConversionError("sheet has no rows at or after the header row")
    names = []
    for i in range(max_col + 1):
        h = header.get(i, "")
        names.append(h if h != "" else str(i))
    return _dedupe(names)


def _plan_slices(
    spark: SparkSession,
    path: str,
    spool: str,
    n_par: int,
    sheet_name: str | None,
    sheet_index: int | None,
    header_row: int,
    **wb_kw,
) -> tuple[list[tuple[int, int]] | None, int | None]:
    """Spool the sheet and run the strict slice scan as ONE Spark job:
    (slice plan, strict width or None), or (None, None) on any refusal —
    a failed scan job (spool gone, worker lost) included. The driver
    keeps only the inherently serial step, inflating the one DEFLATE
    stream to the spool (~1 s for 492 MB); the scan tasks read byte
    ranges of it (xlsx.slice_scan_tasks / scan_slice_range) and also
    measure the dimension-less width in the same pass."""
    with XlsxWorkbook(path, **wb_kw) as wb:
        meta = wb.spool_sheet(sheet_name, sheet_index, spool_path=spool)
        want_width = (
            meta is not None
            and header_row == 0
            and wb.sheet_dimension(sheet_name, sheet_index) is None
        )
    tasks = slice_scan_tasks(meta, n_par) if meta is not None else None
    if tasks is None:
        return None, None
    ranges, targets, decl_q = tasks
    try:
        res = (
            spark.sparkContext.parallelize(ranges, len(ranges))
            .map(lambda r: scan_slice_range(spool, r[0], r[1], targets, decl_q, want_width))
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
    multi = sheet_name == "*" or isinstance(sheet_name, (list, tuple))
    if multi and sheet_index is not None:
        raise ConversionError("sheet_index cannot be combined with multi-sheet sheet_name")
    sheet_list = list(sheet_name) if isinstance(sheet_name, (list, tuple)) else None
    infer_sheet = (
        None if sheet_name == "*" else (sheet_list[0] if sheet_list else sheet_name)
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
    # Header inference must NEVER materialize file content on the driver
    # (the reference's design point is multi-GB files): collect paths
    # only, then either open the first file straight from the local
    # filesystem (zipfile reads just the central directory + the header
    # row's bytes) or, for remote filesystems, run the inference in a
    # one-file executor task and ship back only the column names.
    # limit(2): the second row only tells the slice planner below
    # whether this is a single-file read (never materializes content)
    first = binary.select("path").orderBy("path").limit(2).collect()
    if not first:
        raise ConversionError(f"no files matched {path!r}")
    first_path = first[0]["path"]
    single_file = len(first) == 1
    infer_kw = dict(
        sheet_name=infer_sheet,
        sheet_index=sheet_index,
        header_row=header_row,
        min_inflate_ratio=min_inflate_ratio,
        max_entry_size=max_entry_size,
    )
    local = _as_local_path(first_path)
    # Intra-sheet parallelism (guide §2 — one unsplittable stream is a
    # straggler): a single local workbook with one target sheet big
    # enough to matter is byte-sliced at STRICTLY-VERIFIED row
    # boundaries and parsed by N concurrent tasks (_plan_slices). Any
    # refusal removes the spool and takes the serial path, which has
    # byte-identical semantics.
    slice_plan = None
    n_par = int(spark.sparkContext.defaultParallelism)
    if local is not None and not multi and single_file and n_par > 1:
        fd, spool = tempfile.mkstemp(prefix="catme_sheet_spool_", suffix=".xml")
        os.close(fd)
        try:
            slice_plan, slice_width = _plan_slices(
                spark,
                local,
                spool,
                n_par,
                sheet_name,
                sheet_index,
                header_row,
                min_inflate_ratio=min_inflate_ratio,
                max_entry_size=max_entry_size,
            )
        finally:
            if slice_plan is None:
                with contextlib.suppress(OSError):
                    os.remove(spool)
        if slice_plan is not None:
            _register_spool(spool)
            if slice_width is not None:
                infer_kw["max_col_override"] = slice_width
    if local is not None:
        columns = infer_columns(local, **infer_kw)
    else:
        name_schema = T.StructType([T.StructField("name", T.StringType(), False)])

        def _infer(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                for content in batch.column(0):
                    names = infer_columns(content.as_py(), **infer_kw)
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(names, pa.string())], ["name"]
                    )

        columns = [
            r["name"]
            for r in binary.filter(F.col("path") == first_path)
            .select("content")
            .mapInArrow(_infer, name_schema)
            .collect()
        ]
        if not columns:
            raise ConversionError(f"could not infer columns from {first_path!r}")

    meta_fields = [
        T.StructField("_file", T.StringType(), False),
    ]
    pa_meta = [pa.field("_file", pa.string(), False)]
    if multi:
        meta_fields += [
            T.StructField("_sheet_idx", T.LongType(), False),
            T.StructField("_sheet", T.StringType(), False),
        ]
        pa_meta += [
            pa.field("_sheet_idx", pa.int64(), False),
            pa.field("_sheet", pa.string(), False),
        ]
    meta_fields.append(T.StructField("_row_idx", T.LongType(), False))
    pa_meta.append(pa.field("_row_idx", pa.int64(), False))

    schema = T.StructType(meta_fields + [T.StructField(c, T.StringType(), True) for c in columns])
    n_cols = len(columns)
    pa_schema = pa.schema(pa_meta + [pa.field(c, pa.string()) for c in columns])
    col_range = tuple(range(n_cols))

    def _flush(
        fpath: str, sheet: tuple[int, str] | None, idxs: list[int], rows: list[dict]
    ) -> pa.RecordBatch:
        # Columnar batch building: one C-speed list comprehension per
        # column instead of a Python tuple per row (~2x on wide scans).
        n = len(idxs)
        arrays = [pa.array([fpath] * n, pa.string())]
        if sheet is not None:
            arrays.append(pa.array([sheet[0]] * n, pa.int64()))
            arrays.append(pa.array([sheet[1]] * n, pa.string()))
        arrays.append(pa.array(idxs, pa.int64()))
        arrays.extend(pa.array([r.get(i) for r in rows], pa.string()) for i in col_range)
        return pa.RecordBatch.from_arrays(arrays, schema=pa_schema)

    # Bounded-memory fast path (the reference's headline invariant,
    # contract :98/:220-225): when the input lives on a locally
    # readable filesystem, ship only PATHS to the parse tasks and let
    # each worker open the archive straight from disk — zipfile then
    # streams the sheet through iterparse with O(batch) state, so the
    # task's RSS is flat in BOTH row count and archive size (measured:
    # 492 MB of sheet XML parses in ~180 MB worker RSS). Shipping
    # whole-file bytes through the binaryFile content column (the
    # remote-filesystem fallback below) adds JVM buffering + an Arrow
    # transfer + a Python copy of the COMPRESSED archive — still far
    # below the inflated sheet, but proportional to the file, and
    # capped at Spark's 2 GB column limit, which the path mode escapes.
    use_paths = _as_local_path(first_path) is not None

    if slice_plan:
        spool_for_tasks = spool
        # one PARTITION per slice, in slice (= sheet row) order:
        # parallelize assigns list element i to partition i, so the
        # mapInArrow output partitions are already globally row-ordered
        # with rows ordered inside each — the ordered single-file sink
        # can then write partitions in parallel and concatenate them in
        # partition order with NO exchange and NO sort
        # (sinks._write_ndjson_partition_ordered).
        sl_df = spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(first_path, s, e) for (s, e) in slice_plan],
                len(slice_plan),
            ),
            "path string, s_start long, s_end long",
        )

        def parse_slice(
            batches: Iterator[pa.RecordBatch],
        ) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                for p_sc, s0_sc, s1_sc in zip(
                    batch.column(0), batch.column(1), batch.column(2)
                ):
                    fpath = p_sc.as_py()
                    wb = XlsxWorkbook(
                        _as_local_path(fpath),
                        min_inflate_ratio=min_inflate_ratio,
                        max_entry_size=max_entry_size,
                    )
                    try:
                        idxs: list[int] = []
                        rows: list[dict] = []
                        for row_idx, cells in wb.iter_rows_slice(
                            sheet_name,
                            sheet_index,
                            start=s0_sc.as_py(),
                            end=s1_sc.as_py(),
                            continue_on_error=continue_on_error,
                            spool_path=spool_for_tasks,
                        ):
                            if row_idx <= header_row:
                                continue
                            idxs.append(row_idx)
                            rows.append(cells)
                            if len(idxs) >= _BATCH_ROWS:
                                yield _flush(fpath, None, idxs, rows)
                                idxs, rows = [], []
                        if idxs:
                            yield _flush(fpath, None, idxs, rows)
                    finally:
                        wb.close()

        out_df = sl_df.mapInArrow(parse_slice, schema)
        # Pure sink metadata (never semantics): partitions are in
        # global row order with rows ordered inside each, so an ordered
        # single-file sink may skip its sort entirely. convert()
        # threads this explicitly into write_ndjson (ADVICE r11 — any
        # intervening transformation by another caller simply loses the
        # attribute and lands on the always-correct sorting path).
        out_df._catme_slice_ordered = True
        return out_df

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if use_paths:
                pairs = ((p, None) for p in batch.column(0))
            else:
                pairs = zip(batch.column(0), batch.column(1))
            for fpath_sc, content_sc in pairs:
                fpath = fpath_sc.as_py()
                wb = XlsxWorkbook(
                    _as_local_path(fpath)
                    if content_sc is None
                    else content_sc.as_py(),
                    min_inflate_ratio=min_inflate_ratio,
                    max_entry_size=max_entry_size,
                )
                try:
                    if multi:
                        names = wb.sheet_names if sheet_name == "*" else sheet_list
                        targets = [
                            ((s_idx, s_nm), s_nm) for s_idx, s_nm in enumerate(names)
                        ]
                    else:
                        targets = [(None, sheet_name)]
                    for sheet_meta, s_nm in targets:
                        idxs: list[int] = []
                        rows: list[dict] = []
                        for row_idx, cells in wb.iter_rows(
                            s_nm, sheet_index, continue_on_error=continue_on_error
                        ):
                            if row_idx <= header_row:
                                continue
                            idxs.append(row_idx)
                            rows.append(cells)
                            if len(idxs) >= _BATCH_ROWS:
                                yield _flush(fpath, sheet_meta, idxs, rows)
                                idxs, rows = [], []
                        if idxs:
                            yield _flush(fpath, sheet_meta, idxs, rows)
                finally:
                    wb.close()

    src = binary.select("path") if use_paths else binary.select("path", "content")
    return src.mapInArrow(parse, schema=schema)
