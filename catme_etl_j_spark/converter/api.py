"""Reference-parity ``convert()`` API (SURVEY.md §7.0).

Mirrors the reference CLI's configuration surface
(src/.../config/ConverterConfig.java — full option list in SURVEY.md
§2.5) and its validation rules (ConverterConfig.java:170-191). Options
the reference declares but never uses (``mem_threshold``,
``date_format``, ``verbose``) and the strategy hint (superseded by the
single streaming reader, SURVEY.md §2.1 S3) are accepted and ignored,
for drop-in compatibility.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from catme_etl_j_spark.converter.errors import ConversionError
from catme_etl_j_spark.converter.reader import read_xlsx
from catme_etl_j_spark.converter.sinks import (
    write_csv_chunks,
    write_json_array,
    write_ndjson,
)
from catme_etl_j_spark.converter.xlsx import (
    DEFAULT_MAX_ENTRY_SIZE,
    DEFAULT_MIN_INFLATE_RATIO,
)

FORMATS = ("CSV", "NDJSON", "JSON")


@dataclass
class ConvertResult:
    rows_written: int
    outputs: list[str] = field(default_factory=list)
    elapsed_s: float = 0.0

    @property
    def rows_per_s(self) -> float:
        """Throughput — the reference's headline runtime metric
        (rows/sec rate logs, ExcelRowListener.java:155-163)."""
        return round(self.rows_written / self.elapsed_s, 1) if self.elapsed_s else 0.0


def convert(
    input: str,
    format: str,
    output: str | None = None,
    *,
    sheet_name: str | list[str] | None = None,
    sheet_index: int | None = None,
    header_row: int = 0,
    batch_size: int = 50_000,
    continue_on_error: bool = False,
    temp_dir: str = "data/temp",
    overwrite: bool = False,
    pretty_print: bool = False,
    min_inflate_ratio: float = DEFAULT_MIN_INFLATE_RATIO,
    max_entry_size: int = DEFAULT_MAX_ENTRY_SIZE,
    single_file: bool = True,
    # accepted-and-ignored for reference CLI parity (SURVEY.md §2.5):
    strategy_hint: str | None = None,
    date_format: str | None = None,
    verbose: bool = False,
    mem_threshold: int | None = None,
    spark: SparkSession | None = None,
) -> ConvertResult:
    """Convert one sheet of ``input`` (xlsx path or glob) to ``format``.

    Validation mirrors ConverterConfig.java:170-191: positive batch
    size, non-negative indices, output required unless CSV.
    """
    fmt = format.upper()
    if fmt not in FORMATS:
        raise ConversionError(f"format must be one of {FORMATS}, got {format!r}")
    if batch_size <= 0:
        raise ConversionError("batch_size must be positive")
    if header_row < 0:
        raise ConversionError("header_row must be >= 0")
    if sheet_index is not None and sheet_index < 0:
        raise ConversionError("sheet_index must be >= 0")
    if fmt != "CSV" and not output:
        raise ConversionError(f"--output is required for format {fmt}")

    if spark is None:
        from catme_etl_j_spark.session import get_spark

        spark = get_spark("converter")

    t0 = time.time()
    df = read_xlsx(
        spark,
        input,
        sheet_name=sheet_name,
        sheet_index=sheet_index,
        header_row=header_row,
        continue_on_error=continue_on_error,
        min_inflate_ratio=min_inflate_ratio,
        max_entry_size=max_entry_size,
    )

    if fmt == "NDJSON":
        n = write_ndjson(df, output, overwrite=overwrite, single_file=single_file)
        outputs = [output]
    elif fmt == "JSON":
        n = write_json_array(df, output, overwrite=overwrite, pretty_print=pretty_print)
        outputs = [output]
    else:  # CSV: --output ignored, chunks under temp_dir (W1 semantics)
        base = os.path.splitext(os.path.basename(input.rstrip("/")))[0]
        outputs, n = write_csv_chunks(
            df, base, temp_dir, batch_size=batch_size, overwrite=overwrite
        )
    return ConvertResult(rows_written=n, outputs=outputs, elapsed_s=time.time() - t0)
