"""Pandas-UDF surface (SURVEY.md §7.4 "UDF surface").

The engine's rule: built-in ``pyspark.sql.functions`` for anything they
can express (JVM-side, codegen'd); when Python is unavoidable, Arrow-
batched pandas UDFs — never row-at-a-time ``F.udf``. tests/test_udfs.py
proves the UDF below agrees with its built-in twin, which is also the
performance moral: if a built-in twin exists, use it.

The other sanctioned shapes live with their gated queries:

* scalar pandas UDF       — ``token_count_udf`` below
                            (relational2.fn_pandas_udf_tokens)
* grouped applyInPandas   — per-group frame in/out
                            (embed.embed_group_stats)
* mapInPandas             — partition-batch iterator
                            (operators/multimodal.py)
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.LongType())
def token_count_udf(text: pd.Series) -> pd.Series:
    """Whitespace token count, vectorized via pandas str ops."""
    return text.str.split().str.len().astype("int64")
