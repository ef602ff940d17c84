"""Converter sinks: NDJSON (W2), chunked CSV (W1), JSON array (W3).

Reference behaviors reproduced (SURVEY.md §2.3) and the deliberate
divergences (§7.7.4), per sink:

* NDJSON — native ``df.write.json`` (Spark's JSON sink IS ndjson).
  Absent cells are omitted from each object (EasyExcel-path parity;
  Spark drops null fields by default); present-but-blank cells are
  ``""``. Single-file parity mode writes the part files in sheet
  order and concatenates them. The reference's per-row flush
  (NdjsonDataWriter.java:145-147) is a perf anti-feature with no Spark
  analog — buffering is the task commit protocol's job.
* CSV — chunk files named ``<inputbase>-chunk-N.csv``, N starting at 1
  (code behavior, CsvDataWriter.java:83 — the contract says 0; code
  wins, SURVEY.md §2.3 W1), header re-written per chunk, rotation every
  ``batch_size`` rows via ``maxRecordsPerFile``. Sparse rows are PADDED
  (divergence: the reference concatenates present values and misaligns
  columns, CsvDataWriter.java:153-165).
* JSON array — no native Spark sink; streamed on the driver via
  ``toLocalIterator`` (bounded memory, never ``collect()`` —
  SURVEY.md §7.7.5), with optional ``pretty_print``.
* ``overwrite`` gate refuses to clobber existing output otherwise
  (W5; NdjsonDataWriter.java:73-77).

Scale note: the ordered single-file modes exist for reference parity
on modest outputs; at 100 TB use ``single_file=False`` (NDJSON) which
becomes a plain parallel partitioned ``df.write.json``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from catme_etl_j_spark.converter.errors import ConversionError

# Meta columns carried by the reader for ordering/provenance; listed in
# sort order. _sheet_idx/_sheet appear only on multi-sheet reads
# (drop/order handle their absence).
META_COLS = ("_file", "_sheet_idx", "_sheet", "_row_idx")


def _check_overwrite(path: str, overwrite: bool) -> None:
    if os.path.exists(path):
        if not overwrite:
            raise ConversionError(
                f"output {path!r} exists and overwrite=False (use --overwrite)"
            )
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)


def _data_cols(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in META_COLS]


def _ordered_single(df: DataFrame) -> DataFrame:
    """One partition in sheet order, WITHOUT ``orderBy``: a global sort
    range-samples its input, which re-executes the whole upstream parse
    a second time. ``repartition(1)`` keeps the parse parallel and
    single-pass; ``sortWithinPartitions`` then gives total order on the
    lone partition."""
    cols = [c for c in META_COLS if c in df.columns]
    if not cols:
        return df.coalesce(1)
    return df.repartition(1).sortWithinPartitions(*cols)


def _count_lines(*paths: str) -> int:
    n = 0
    for p in paths:
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                n += chunk.count(b"\n")
    return n


def write_ndjson(
    df: DataFrame,
    output: str,
    *,
    overwrite: bool = False,
    single_file: bool = True,
) -> int:
    """Write NDJSON; returns rows written. ``single_file=False`` is the
    scale path: parallel partitioned write, `output` becomes a dir.

    The single file is Spark's part files concatenated in partition
    order. A frame carrying the reader's ``_catme_partition_ordered``
    mark (every local ``read_xlsx`` frame: partitions already in global
    row order, rows ordered inside each) is written as it is — every
    task streams its partition, NO exchange, NO sort. Any other frame
    (a remote read, or one a caller transformed, which drops the mark)
    is first brought to one sorted partition by ``_ordered_single``.
    Both are byte-identical for a reader frame.

    Rows-written is counted from the OUTPUT files (cheap local line
    count), not via df.count() — counting the frame would re-execute
    the whole read pipeline a second time."""
    _check_overwrite(output, overwrite)
    if not single_file:
        df.drop(*META_COLS).write.mode("overwrite").json(output)
        return _count_lines(*glob.glob(os.path.join(output, "part-*")))
    if not getattr(df, "_catme_partition_ordered", False):
        df = _ordered_single(df)
    tmp = tempfile.mkdtemp(prefix="ndjson_", dir=os.path.dirname(os.path.abspath(output)))
    try:
        df.drop(*META_COLS).write.mode("overwrite").json(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        if len(parts) == 1:
            shutil.move(parts[0], output)
        else:  # empty partitions write no part file; none at all -> empty output
            with open(output, "wb") as out:
                for part in parts:
                    with open(part, "rb") as src:
                        shutil.copyfileobj(src, out, 1 << 20)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _count_lines(output)


def write_csv_chunks(
    df: DataFrame,
    input_base: str,
    temp_dir: str = "data/temp",
    *,
    batch_size: int = 50_000,
    overwrite: bool = False,
) -> tuple[list[str], int]:
    """Write ``<temp_dir>/<input_base>-chunk-N.csv`` files; returns them
    in order, with the number of rows written. ``--output`` is ignored
    for CSV, as in the reference (ConverterConfig.java:34).

    Rows are counted by an Observation on the write itself: the output
    cannot be re-read reliably, because quoted cells span lines and
    Spark escapes a quote inside a cell as ``\\"``."""
    os.makedirs(temp_dir, exist_ok=True)
    existing = glob.glob(os.path.join(temp_dir, f"{input_base}-chunk-*.csv"))
    if existing:
        if not overwrite:
            raise ConversionError(
                f"chunk files for {input_base!r} already exist in {temp_dir!r} "
                "and overwrite=False"
            )
        for p in existing:
            os.remove(p)
    tmp = tempfile.mkdtemp(prefix="csv_", dir=temp_dir)
    rows = Observation()
    try:
        (
            _ordered_single(df)
            .drop(*META_COLS)
            .observe(rows, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .option("header", True)
            .option("maxRecordsPerFile", batch_size)
            .csv(tmp)
        )
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        outs = []
        for i, p in enumerate(parts, start=1):  # chunk index starts at 1
            dst = os.path.join(temp_dir, f"{input_base}-chunk-{i}.csv")
            shutil.move(p, dst)
            outs.append(dst)
        return outs, rows.get["n"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_json_array(
    df: DataFrame, output: str, *, overwrite: bool = False, pretty_print: bool = False
) -> int:
    """Single ``[ {...}, ... ]`` file, streamed row-by-row on the driver
    (toLocalIterator pulls one partition at a time — bounded memory)."""
    _check_overwrite(output, overwrite)
    cols = _data_cols(df)
    n = 0
    with open(output, "w", encoding="utf-8") as f:
        f.write("[")
        first = True
        for row in _ordered_single(df).toLocalIterator():
            obj = {c: row[c] for c in cols if row[c] is not None}
            text = json.dumps(obj, ensure_ascii=False, indent=2 if pretty_print else None)
            if pretty_print:
                text = "\n" + "\n".join("  " + line for line in text.splitlines())
            f.write("," if not first else "")
            f.write(text)
            first = False
            n += 1
        f.write("\n]" if (pretty_print and n) else "]")
    return n
