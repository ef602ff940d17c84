"""The benchmark's workloads: which operations a pass runs, how each is
timed, and how its output is checked.

A query op calls the registered query function (``queries()[name]``) and
times it through one order-independent digest action: row count plus
the sum of ``xxhash64`` over all columns as ``decimal(38,0)``. The
expected digest comes from the query's DuckDB twin (``oracle_sql()``)
evaluated on the same generated tables, loaded into Spark and digested
the same way. A convert op reads xlsx with ``read_xlsx`` and writes
single-file NDJSON with ``write_ndjson``; its output is checked by row
count and sha256 against the values the fixture generator recorded.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

# Cold pass runs ops in this declared order; steady passes shuffle it
# with the seed.
QUERY_OPS = (
    # loops: construction-time checkpoints and many small jobs
    "dedup_minhash_keep",
    # relational: lazy scan/exchange/aggregate plans, no Python
    "q03_shipping_priority",
)
CONVERT_OPS = ("sheet", "glob")
OPS = {"convert": CONVERT_OPS, "queries": QUERY_OPS}

# Inputs. Query tables at scale factor 0.01 (60k lineitem rows, 10k
# events, 500 documents); one 68k-row sheet (54 MB of sheet XML, so the
# reader plans 4 byte slices on 4 cores) and 8 workbooks of 6250 rows
# (1.8 MB of sheet XML each, below the 12 MiB slicing threshold).
TABLES_SF = 0.01
SHEET_ROWS = 68_000
GLOB_FILES = 8
GLOB_ROWS = 6_250


@dataclass
class Outcome:
    rows: int
    digest: tuple | None = None  # query ops: (rows, xxhash64 sum)


def _digest(df) -> tuple[int, str]:
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[df[c] for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


class Queries:
    """The ``queries`` workload."""

    ops = OPS["queries"]

    def __init__(self, spark, tables_dir: str, tracer) -> None:
        import __spark_entry__

        self.spark = spark
        self.dir = tables_dir
        self.tracer = tracer
        self.query_fns = __spark_entry__.queries()
        self.schemas: dict[str, object] = {}

    def run(self, op: str) -> Outcome:
        with self.tracer.span("construct", layer="operators"):
            self.tracer.job_group("construct")
            df = self.query_fns[op](self.spark, self.dir)
        self.schemas.setdefault(op, df.schema)
        with self.tracer.span("exec", layer="spark"):
            self.tracer.job_group("exec")
            n, h = _digest(df)
        return Outcome(n, (n, h))

    def check(self, op: str, outcome: Outcome) -> tuple:
        return outcome.digest

    def expected(self) -> dict[str, tuple]:
        """Oracle digests: each op's DuckDB twin on the same tables,
        cast to the Spark result's column types and digested in Spark."""
        import duckdb

        import __spark_entry__
        from catme_etl_j_spark.sources.tables import TABLES

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            out = {}
            for op in self.ops:
                try:
                    arrow = con.sql(oracles[op]).arrow()
                    by_lower = {c.lower(): c for c in arrow.column_names}
                    odf = self.spark.createDataFrame(arrow)
                    odf = odf.select(
                        *[
                            odf[by_lower[f.name.lower()]].cast(f.dataType).alias(f.name)
                            for f in self.schemas[op].fields
                        ]
                    )
                    out[op] = _digest(odf)
                except Exception as e:  # no expected value: every run of op fails
                    out[op] = (None, f"no oracle digest: {e!r}")
            return out
        finally:
            con.close()


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class Convert:
    """The ``convert`` workload."""

    ops = OPS["convert"]

    def __init__(self, spark, fixture_dir: str, manifest: dict, out_dir: str, tracer) -> None:
        self.spark = spark
        self.fixture_dir = fixture_dir
        self.manifest = manifest
        self.out_dir = out_dir
        self.tracer = tracer
        os.makedirs(out_dir, exist_ok=True)

    def run(self, op: str) -> Outcome:
        from catme_etl_j_spark.converter.reader import read_xlsx
        from catme_etl_j_spark.converter.sinks import write_ndjson

        src = os.path.join(self.fixture_dir, self.manifest[op]["path"])
        out = os.path.join(self.out_dir, f"{op}.ndjson")
        with self.tracer.span("construct", layer="converter.read"):
            self.tracer.job_group("construct")
            df = read_xlsx(self.spark, src)
        with self.tracer.span("exec", layer="converter.sink"):
            self.tracer.job_group("exec")
            rows = write_ndjson(df, out, overwrite=True)
        return Outcome(rows)

    def check(self, op: str, outcome: Outcome) -> tuple:
        """(rows written, sha256 of the NDJSON file) — computed after the
        op's timed region."""
        return outcome.rows, sha256_file(os.path.join(self.out_dir, f"{op}.ndjson"))

    def expected(self) -> dict[str, tuple]:
        return {op: (self.manifest[op]["rows"], self.manifest[op]["sha256"]) for op in self.ops}

    def output_mb(self, op: str) -> float:
        return os.path.getsize(os.path.join(self.out_dir, f"{op}.ndjson")) / 1e6
