"""The pandas-UDF pattern vs its built-in twin."""

from pyspark.sql import functions as F

from catme_etl_j_spark.functions.udfs import token_count_udf
from catme_etl_j_spark.sources.tables import load_table


def test_token_count_udf_matches_builtin(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select(
        token_count_udf("text").alias("udf"),
        F.size(F.split(F.trim("text"), " +")).cast("long").alias("builtin"),
    ).collect()
    assert all(r["udf"] == r["builtin"] for r in rows)
