"""format("xlsx") Python Data Source vs the mapInPandas reader."""

import pytest

from catme_etl_j_spark.converter.reader import read_xlsx
from catme_etl_j_spark.converter.xlsx_writer import write_xlsx
from catme_etl_j_spark.sources.xlsx_datasource import register


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def test_datasource_matches_mapinpandas_reader(spark, tmp_path):
    """Both readers plan one unit per file in sorted path order and
    parse it with the same function, and both carry binaryFile's
    decoded ``file:`` path in ``_file``: their frames are equal
    partition by partition."""
    for i in range(3):
        write_xlsx(
            str(tmp_path / f"f{i}.xlsx"),
            {"S": [["a", "b"], [f"x{i}", str(i)], [None, "only-b"]]},
        )
    via_ds = spark.read.format("xlsx").load(str(tmp_path / "*.xlsx"))
    via_mp = read_xlsx(spark, str(tmp_path / "*.xlsx"))
    assert via_ds.columns == via_mp.columns
    assert via_ds.count() == 6

    def parts(df):
        return [[tuple(r) for r in part] for part in df.rdd.glom().collect()]

    assert parts(via_ds) == parts(via_mp)
    assert len(parts(via_ds)) == 3
    assert parts(via_ds)[0][0][0] == "file:" + str(tmp_path / "f0.xlsx")


def test_datasource_options(spark, tmp_path):
    write_xlsx(
        str(tmp_path / "o.xlsx"),
        {"First": [["x"], ["1"]], "Second": [["junk"], ["h"], ["v1"], ["v2"]]},
    )
    df = (
        spark.read.format("xlsx")
        .option("sheet_index", 1)
        .option("header_row", 1)
        .load(str(tmp_path / "o.xlsx"))
    )
    assert df.columns[2:] == ["h"]
    assert {r["h"] for r in df.collect()} == {"v1", "v2"}


def test_datasource_filter_pushdown_semantics(spark, tmp_path):
    # filters applied post-scan still work through the DS (strings only)
    write_xlsx(str(tmp_path / "p.xlsx"), {"S": [["k"], ["a"], ["b"], ["c"]]})
    df = spark.read.format("xlsx").load(str(tmp_path / "p.xlsx"))
    assert df.filter(df.k > "a").count() == 2


def _two_sheet_fixture(tmp_path):
    from catme_etl_j_spark.converter.xlsx_writer import write_xlsx

    return write_xlsx(
        str(tmp_path / "multi.xlsx"),
        {
            "alpha": [["k", "v"], ["a1", "1"], ["a2", "2"]],
            "beta": [["k", "v"], ["b1", "3"]],
        },
    )


def test_reader_multi_sheet_star(spark, tmp_path):
    from catme_etl_j_spark.converter.reader import read_xlsx

    p = _two_sheet_fixture(tmp_path)
    df = read_xlsx(spark, p, sheet_name="*")
    assert df.columns[:4] == ["_file", "_sheet_idx", "_sheet", "_row_idx"]
    rows = sorted(
        (r["_sheet_idx"], r["_sheet"], r["k"], r["v"]) for r in df.collect()
    )
    assert rows == [
        (0, "alpha", "a1", "1"),
        (0, "alpha", "a2", "2"),
        (1, "beta", "b1", "3"),
    ]


def test_reader_multi_sheet_list(spark, tmp_path):
    from catme_etl_j_spark.converter.reader import read_xlsx

    p = _two_sheet_fixture(tmp_path)
    df = read_xlsx(spark, p, sheet_name=["beta"])
    rows = [(r["_sheet_idx"], r["_sheet"], r["k"]) for r in df.collect()]
    assert rows == [(0, "beta", "b1")]


def test_datasource_partition_per_file_sheet(spark, tmp_path):
    from catme_etl_j_spark.sources.xlsx_datasource import register

    _two_sheet_fixture(tmp_path)
    register(spark)
    df = (
        spark.read.format("xlsx")
        .option("sheet_name", "*")
        .load(str(tmp_path / "multi.xlsx"))
    )
    # 1 file x 2 sheets -> 2 planned partitions
    assert df.rdd.getNumPartitions() == 2
    rows = sorted((r["_sheet"], r["k"]) for r in df.collect())
    assert rows == [("alpha", "a1"), ("alpha", "a2"), ("beta", "b1")]


def test_multi_sheet_convert_ndjson_order(spark, tmp_path):
    """Ordered single-file NDJSON preserves (file, sheet, row) order."""
    from catme_etl_j_spark.converter import convert

    p = _two_sheet_fixture(tmp_path)
    out = str(tmp_path / "o.ndjson")
    result = convert(p, "NDJSON", out, sheet_name="*", spark=spark)
    assert result.rows_written == 3
    lines = [ln for ln in open(out).read().splitlines() if ln]
    import json

    keys = [json.loads(ln)["k"] for ln in lines]
    assert keys == ["a1", "a2", "b1"]
