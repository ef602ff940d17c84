"""Reader contracts: xlsx schema inference reads no cell content, and
parquet tables evolve through ``mergeSchema``. Reading the converter's
own NDJSON / CSV / JSON outputs back is on the oracle gate
(operators/convertq.py ``convert_roundtrip_*``)."""

from catme_etl_j_spark.converter.xlsx_writer import write_xlsx


def _fixture(tmp_path):
    rows = [["sku", "qty"]] + [[f"S{i}", str(i)] for i in range(40)]
    return write_xlsx(str(tmp_path / "t.xlsx"), {"S": rows})


def test_schema_inference_never_collects_content(spark, tmp_path, monkeypatch):
    """Header inference must not materialize file bytes on the driver
    (the reference targets multi-GB xlsx): every driver-side collect in
    the read path may carry paths/names only, never a content column."""
    try:  # Spark 4: the concrete class overrides collect
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from catme_etl_j_spark.converter import reader as reader_mod
    from catme_etl_j_spark.converter.reader import read_xlsx

    p = _fixture(tmp_path)
    collected: list[list[str]] = []
    orig = DataFrame.collect

    def spy(self):
        collected.append(self.columns)
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    df = read_xlsx(spark, p)
    assert df.count() == 40
    assert collected == []  # a local read lists through inputFiles(), no job
    # a remote read collects its path list and the executor-inferred names
    monkeypatch.setattr(reader_mod, "_as_local_path", lambda path: None)
    assert read_xlsx(spark, p).count() == 40
    assert collected, "inference should collect paths"
    for cols in collected:
        assert "content" not in cols, f"driver collected file content: {cols}"


def test_parquet_schema_evolution_mergeschema(spark, sf_dir, tmp_path):
    """Schema evolution across files: an old file without a column and
    a new file with it read together under mergeSchema yield the
    unified schema with NULL back-fill — the contract that lets a
    100 TB table add columns without rewriting history."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").limit(100)
    old = ev.select("event_id", "event_type")
    new = ev.select("event_id", "event_type", F.col("value").alias("score"))
    d = str(tmp_path / "evolving")
    old.write.mode("overwrite").parquet(d + "/batch=1")
    new.write.mode("overwrite").parquet(d + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert {f.name for f in merged.schema.fields} >= {
        "event_id",
        "event_type",
        "score",
    }
    rows = merged.count()
    nulls = merged.filter("score IS NULL").count()
    assert rows == 200 and nulls == 100
