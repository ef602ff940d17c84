"""Spark 4 Python Data Source for XLSX: ``spark.read.format("xlsx")``.

SURVEY.md §2.1 option (a): the reader's planner and parse function
(converter/reader.py), surfaced through the DataSource V2 Python API so
xlsx behaves like any first-class format — planned partitions, one per
work unit (a file, or a (file, sheet) of a multi-sheet read), in
sorted path order; driver-side schema inference; Arrow-batch row
production.

    from catme_etl_j_spark.sources.xlsx_datasource import register
    register(spark)
    df = (spark.read.format("xlsx")
          .option("sheet_name", "Data2024")  # or sheet_index / header_row
          .load("/data/*.xlsx"))

The ``converter.reader.read_xlsx`` path is the PRIMARY reader —
``convert()`` uses it. It alone can byte-slice one big sheet (slice
planning runs a Spark job, and a DataSource plans in a Python worker
with no SparkContext) and read remote filesystems; this source lists
local paths with a Python glob. Both parse the same units in the same
order (read_xlsx packs them into at most one partition per core), so
their frames are equal partition by partition on up to one file per
core (tests/test_xlsx_datasource.py); both carry binaryFile's decoded
``file:`` path in ``_file``. Measured
head-to-head on a 4-vCPU VM (local[4], 8 files x 12.5k rows x 4
columns to the ``noop`` sink, median of 7 alternating runs after
warm-up) this source takes 1.62 s and read_xlsx 1.10 s: it runs one
task per file and adds an Arrow hop through the Python worker.
"""

from __future__ import annotations

import glob
import os
from dataclasses import replace

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from catme_etl_j_spark.converter.errors import ConversionError
from catme_etl_j_spark.converter.reader import Scan, _as_local_path, parse_unit, plan_units
from catme_etl_j_spark.converter.xlsx import (
    DEFAULT_MAX_ENTRY_SIZE,
    DEFAULT_MIN_INFLATE_RATIO,
)


class XlsxDataSource(DataSource):
    """format("xlsx") — options: sheet_name, sheet_index, header_row,
    continue_on_error, min_inflate_ratio, max_entry_size.

    ``sheet_name`` accepts ``"*"`` (every sheet of every workbook) or a
    comma-separated list — multi-sheet reads plan ONE PARTITION PER
    (file, sheet) and add ``_sheet_idx``/``_sheet`` meta columns.
    (Comma-bearing sheet names need the single-name form.)
    """

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def _scan(self) -> Scan:
        o = self.options
        raw_sheet = o.get("sheet_name")
        if raw_sheet and raw_sheet != "*" and "," in raw_sheet:
            sheet_name: str | list[str] | None = [s.strip() for s in raw_sheet.split(",")]
        else:
            sheet_name = raw_sheet
        return Scan(
            sheet_name=sheet_name,
            sheet_index=int(o["sheet_index"]) if o.get("sheet_index") is not None else None,
            header_row=int(o.get("header_row", 0)),
            continue_on_error=str(o.get("continue_on_error", "false")).lower() == "true",
            min_inflate_ratio=float(o.get("min_inflate_ratio", DEFAULT_MIN_INFLATE_RATIO)),
            max_entry_size=int(o.get("max_entry_size", DEFAULT_MAX_ENTRY_SIZE)),
        )

    def _paths(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ConversionError("xlsx source requires a path: .load('/data/*.xlsx')")
        pattern = os.path.join(path, "*.xlsx") if os.path.isdir(path) else path
        paths = sorted("file:" + os.path.abspath(p) for p in glob.glob(pattern))
        if not paths:
            raise ConversionError(f"no files matched {path!r}")
        return paths

    def schema(self):
        return self._scan().infer(_as_local_path(self._paths()[0])).schema

    def reader(self, schema) -> DataSourceReader:
        scan = self._scan()
        columns = tuple(schema.fieldNames()[4 if scan.multi else 2 :])
        return _XlsxReader(self._paths(), replace(scan, columns=columns))


class _XlsxReader(DataSourceReader):
    def __init__(self, paths: list[str], scan: Scan) -> None:
        self._paths = paths
        self._scan = scan

    def partitions(self):
        return [InputPartition(u) for u in plan_units(self._scan, self._paths, per_sheet=True)]

    def read(self, partition: InputPartition):
        return parse_unit(self._scan, partition.value)


def register(spark) -> None:
    spark.dataSource.register(XlsxDataSource)
