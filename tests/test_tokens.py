"""The tokenizer primitives against DuckDB's spelling of the same policy.

functions/tokens.py is the one Spark-side home of the word split and of
the guarded word window; the DuckDB oracle twins spell both by hand
(``regexp_split_to_array(trim(x), ' +')`` and ``list_transform`` over
``range``). These cases pin the degenerate inputs on both engines and on
the Python mirror: empty and blank text, one word, runs of spaces, a tab
(which ``trim`` keeps), and n-1 / n / n+1 words for an n-gram.
"""

import pathlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.tokens import split_words, windows, word_ngrams, words

TEXTS = ["", "   ", "a", "  a   b  ", "a\tb", "\tfoo foo bar\n", "x y", "x y z", "x y z x"]

# DuckDB twins: the split, every 3-gram, and every 2-element window.
_DUCK = """
WITH s AS (SELECT k, regexp_split_to_array(trim(x), ' +') AS w FROM t)
SELECT k, w,
       list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                      i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS g3,
       list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                      i -> [w[i], w[i + 1]]) AS pairs
FROM s ORDER BY k
"""


@pytest.fixture(scope="module")
def duck_rows():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INTEGER, x VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(TEXTS)))
    return con.execute(_DUCK).fetchall()


@pytest.fixture(scope="module")
def spark_rows(spark):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "k int, text string")
    staged = df.withColumn("w", words())
    return staged.select(
        "k",
        "w",
        word_ngrams("w", 3).alias("g3"),
        word_ngrams("w", 3, hashed=True).alias("h3"),
        word_ngrams("w", 3, distinct=True).alias("d3"),
        windows("w", 2, lambda i: F.array(F.element_at("w", i), F.element_at("w", i + 1))).alias(
            "pairs"
        ),
    ).orderBy("k").collect()


def test_words_match_duckdb_and_python_mirror(spark_rows, duck_rows):
    for text, s, (_, dw, _, _) in zip(TEXTS, spark_rows, duck_rows):
        assert s["w"] == dw == split_words(text), repr(text)
    assert split_words("\tfoo foo bar\n") == ["\tfoo", "foo", "bar\n"]
    assert split_words("") == [""]


def test_ngram_windows_match_duckdb(spark_rows, duck_rows):
    for text, s, (_, _, g3, pairs) in zip(TEXTS, spark_rows, duck_rows):
        assert s["g3"] == g3, repr(text)
        assert [list(p) for p in s["pairs"]] == pairs, repr(text)


def test_ngram_options(spark_rows):
    import hashlib

    for s in spark_rows:
        assert s["h3"] == [hashlib.md5(g.encode()).hexdigest() for g in s["g3"]]
        assert sorted(s["d3"]) == sorted(set(s["g3"]))
    by_text = dict(zip(TEXTS, spark_rows))
    # n-1 / n / n+1 words
    assert by_text["x y"]["g3"] == []
    assert by_text["x y z"]["g3"] == ["x y z"]
    assert by_text["x y z x"]["g3"] == ["x y z", "y z x"]


def test_null_text_has_no_windows(spark):
    row = (
        spark.createDataFrame([(None,)], "text string")
        .withColumn("w", words())
        .select("w", word_ngrams("w", 2).alias("g"))
        .first()
    )
    assert row["w"] is None and row["g"] == []


def test_split_and_windows_are_written_only_in_tokens():
    # The word split and the guarded window live in functions/tokens.py;
    # a hand-written copy in an operator module is how the policies drift.
    root = pathlib.Path(__file__).resolve().parents[1] / "catme_etl_j_spark"
    spark_side = re.compile(r"split\((F\.)?trim\(|transform\(sequence\(1, size\(")
    python_side = re.compile(r'(split|compile)\(" \+"')

    def hits(files, pattern):
        return [
            f"{f.relative_to(root)}:{i}: {line.strip()}"
            for f in files
            for i, line in enumerate(f.read_text().splitlines(), 1)
            if pattern.search(line)
        ]

    operators = sorted((root / "operators").glob("*.py")) + [root / "pipelines.py"]
    assert not hits(operators, spark_side)
    package = [f for f in root.rglob("*.py") if f.name != "tokens.py"]
    assert not hits(package, python_side)
