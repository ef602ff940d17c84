"""Oracle-checked queries for the converter path (SURVEY.md §2 S/R/W).

Each query drives the convert pipeline end-to-end — deterministic
styled xlsx fixture (built from ``lineitem.parquet``) -> ``convert()``
-> sink file(s) -> read back as an all-string DataFrame — and has a
DuckDB oracle twin that derives the same strings straight from the
parquet. Together they put every §2 operator family on the driver's
CORRECTNESS gate:

* S1/S2 streaming scan + S4 sheet resolution (the fixture is parsed by
  the expat reader), including styles.xml format rendering (dates as
  ``yyyy-mm-dd`` serials, money as ``0.00`` — the POI DataFormatter
  behavior, UserModeEventConversionStrategy.java:269-274);
* R1 header extraction, R4 column order, R6 row counting;
* W2 NDJSON (ordered single-file), W1 chunked CSV (rotation at
  ``batch_size``, header per chunk), W3 JSON array (driver-streamed).

Determinism: fixture rows are the first 2000 lineitems by the unique
(l_orderkey, l_linenumber) key; all rendered strings go through
exact decimal paths on both engines (DECIMAL(15,2) cast <-> the
format-code renderer's shortest-repr half-up rounding).
"""

from __future__ import annotations

import os
import tempfile
import threading
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

N_ROWS = 2000

_COLS = ["orderkey", "linenumber", "partkey", "quantity", "extendedprice", "returnflag", "shipdate"]

_SCHEMA = T.StructType([T.StructField(c, T.StringType(), True) for c in _COLS])

_EPOCH = date(1899, 12, 30)  # 1900-system epoch for post-Feb-1900 serials


def _first_lineitems(sf_dir: str) -> list[tuple]:
    """The fixture rows. A private DuckDB connection: the module-level
    default one deadlocks when several threads build fixtures at once."""
    import duckdb

    with duckdb.connect() as con:
        return con.sql(
            f"SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
            f"l_extendedprice, l_returnflag, CAST(l_shipdate AS DATE) FROM "
            f"'{sf_dir}/lineitem.parquet' ORDER BY l_orderkey, l_linenumber "
            f"LIMIT {N_ROWS}"
        ).fetchall()


def _publish(path: str, sheets: dict, **kwargs) -> str:
    """Write the workbook under a per-process, per-thread temp name and
    rename it into place: concurrent first builds of one fixture must
    not interleave writes into a shared temp file."""
    from catme_etl_j_spark.converter.xlsx_writer import write_xlsx

    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    write_xlsx(tmp, sheets, **kwargs)
    os.replace(tmp, path)
    return path


def _fixture(sf_dir: str) -> str:
    """Build (once, atomically) the styled xlsx fixture for ``sf_dir``."""
    from catme_etl_j_spark.converter.xlsx_writer import Styled

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/catme_convq_{tag}_{N_ROWS}.xlsx"
    if os.path.exists(path):
        return path
    rows = _first_lineitems(sf_dir)
    data: list[list] = [list(_COLS)]
    for ok, ln, pk, qty, price, flag, ship in rows:
        serial = (ship - _EPOCH).days
        data.append(
            [
                int(ok),
                int(ln),
                int(pk),
                int(qty),
                Styled(float(price), "0.00"),
                flag,
                Styled(serial, "yyyy-mm-dd"),
            ]
        )
    return _publish(path, {"lineitem": data})


_ORACLE_BASE = f"""
SELECT CAST(l_orderkey AS VARCHAR) AS orderkey,
       CAST(l_linenumber AS VARCHAR) AS linenumber,
       CAST(l_partkey AS VARCHAR) AS partkey,
       CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS quantity,
       CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS VARCHAR) AS extendedprice,
       l_returnflag AS returnflag,
       strftime(l_shipdate, '%Y-%m-%d') AS shipdate
FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT {N_ROWS})
"""


def _fixture_multisheet(sf_dir: str) -> str:
    """Two-sheet fixture in the 1904 date system with a CUSTOM numFmt
    (``0.000`` — not a builtin id, lands in styles.xml numFmts from
    164): the same first-2000 lineitems as :func:`_fixture`, split
    1000/1000 across sheets ``part1``/``part2``. Exercises the S4
    multi-sheet union (`sheet_name="*"`), workbookPr date1904 serial
    handling, and custom-format rendering on the oracle gate in one
    query (previously pytest-only)."""
    from catme_etl_j_spark.converter.xlsx_writer import Styled

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/catme_convq_ms_{tag}_{N_ROWS}.xlsx"
    if os.path.exists(path):
        return path
    rows = _first_lineitems(sf_dir)
    epoch_1904 = date(1904, 1, 1)
    data: list[list] = []
    for ok, ln, pk, qty, price, flag, ship in rows:
        data.append(
            [
                int(ok),
                int(ln),
                int(pk),
                Styled(int(qty), "0.000"),
                Styled(float(price), "0.00"),
                flag,
                Styled((ship - epoch_1904).days, "yyyy-mm-dd"),
            ]
        )
    half = N_ROWS // 2
    sheets = {
        "part1": [list(_COLS)] + data[:half],
        "part2": [list(_COLS)] + data[half:],
    }
    return _publish(path, sheets, date1904=True)


_ORACLE_MULTISHEET = f"""
SELECT CAST(l_orderkey AS VARCHAR) AS orderkey,
       CAST(l_linenumber AS VARCHAR) AS linenumber,
       CAST(l_partkey AS VARCHAR) AS partkey,
       CAST(CAST(l_quantity AS DECIMAL(15,3)) AS VARCHAR) AS quantity,
       CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS VARCHAR) AS extendedprice,
       l_returnflag AS returnflag,
       strftime(l_shipdate, '%Y-%m-%d') AS shipdate
FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT {N_ROWS})
"""


def convert_roundtrip_multisheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sheet 1904-system xlsx with a custom numFmt -> NDJSON via
    ``sheet_name="*"`` -> read back (S4 multi-sheet union + 1904 serials
    + custom format codes, all against the parquet-derived oracle)."""
    from catme_etl_j_spark.converter import convert

    out = os.path.join(tempfile.mkdtemp(prefix="convq_ms_"), "out.ndjson")
    convert(
        _fixture_multisheet(sf_dir),
        "NDJSON",
        out,
        sheet_name="*",
        overwrite=True,
        spark=spark,
    )
    return spark.read.schema(_SCHEMA).json(out)


def convert_roundtrip_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xlsx -> ordered single-file NDJSON -> read back (W2 + R1-R6)."""
    from catme_etl_j_spark.converter import convert

    out = os.path.join(tempfile.mkdtemp(prefix="convq_ndjson_"), "out.ndjson")
    convert(_fixture(sf_dir), "NDJSON", out, overwrite=True, spark=spark)
    return spark.read.schema(_SCHEMA).json(out)


def convert_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xlsx -> chunked CSV (rotation at 800 rows -> 3 chunks, header per
    chunk, chunk index from 1) -> read back (W1 + R8 batch flush)."""
    from catme_etl_j_spark.converter import convert

    temp_dir = tempfile.mkdtemp(prefix="convq_csv_")
    result = convert(
        _fixture(sf_dir),
        "CSV",
        batch_size=800,
        temp_dir=temp_dir,
        overwrite=True,
        spark=spark,
    )
    # chunk count derives from the data, not a hardcoded 3 (the driver
    # fixture's 2000 rows / 800 = 3; a smaller corpus rotates less)
    expected = max(1, -(-result.rows_written // 800))
    assert len(result.outputs) == expected, (
        f"expected {expected} chunks for {result.rows_written} rows,"
        f" got {result.outputs}"
    )
    return (
        spark.read.schema(_SCHEMA)
        .option("header", True)
        .csv([p for p in result.outputs])
    )


def convert_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xlsx -> JSON array (driver-streamed toLocalIterator) -> read back
    via Spark's multiLine JSON source (W3)."""
    from catme_etl_j_spark.converter import convert

    out = os.path.join(tempfile.mkdtemp(prefix="convq_json_"), "out.json")
    convert(_fixture(sf_dir), "JSON", out, overwrite=True, spark=spark)
    return spark.read.schema(_SCHEMA).option("multiLine", True).json(out)


def convert_stream_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole raison d'être, composed end to end: xlsx
    -> streaming parse -> NDJSON sink -> **Structured Streaming
    source** -> aggregation. Proves the converter's output is directly
    consumable by the streaming engine (the downstream ETL the
    reference contract promises but never ships) — at scale this is
    the drop-a-file-ingest pipeline: new NDJSON files land, the file
    stream picks them up, the aggregation maintains itself.
    """
    from pyspark.sql import functions as F

    from catme_etl_j_spark.converter import convert
    from catme_etl_j_spark.streaming.events import run_to_memory

    out_dir = tempfile.mkdtemp(prefix="convq_stream_")
    out = os.path.join(out_dir, "out.ndjson")
    convert(_fixture(sf_dir), "NDJSON", out, overwrite=True, spark=spark)
    src = spark.readStream.schema(_SCHEMA).json(out_dir)
    agg = src.groupBy("returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("quantity").cast("long")).alias("sum_qty"),
    )
    snap, _ = run_to_memory(agg, "convq_stream", "complete")
    return snap


_ORACLE_STREAM = f"""
WITH base AS ({_ORACLE_BASE})
SELECT returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM base GROUP BY returnflag
"""


QUERIES = {
    "convert_roundtrip_ndjson": convert_roundtrip_ndjson,
    "convert_stream_ndjson": convert_stream_ndjson,
    "convert_roundtrip_csv": convert_roundtrip_csv,
    "convert_roundtrip_json": convert_roundtrip_json,
    "convert_roundtrip_multisheet": convert_roundtrip_multisheet,
}

ORACLES = {
    "convert_roundtrip_multisheet": _ORACLE_MULTISHEET,
    "convert_roundtrip_ndjson": _ORACLE_BASE,
    "convert_roundtrip_csv": _ORACLE_BASE,
    "convert_roundtrip_json": _ORACLE_BASE,
    "convert_stream_ndjson": _ORACLE_STREAM,
}
