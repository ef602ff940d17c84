"""Plan-level proofs for the scale techniques in operators/scale.py."""

import re

from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import dec2, money2
from catme_etl_j_spark.operators import scale
from catme_etl_j_spark.plans.explain import formatted_plan
from catme_etl_j_spark.sources.tables import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    tables = ("orders_bt", "lineitem_bt")
    scale.write_bucketed(spark, sf_dir, tables)
    df = scale.bucketed_join(spark, tables)
    plan = formatted_plan(df)
    # the JOIN itself is exchange-free: the only exchange allowed is the
    # final single-partition agg exchange AFTER the join
    assert "SortMergeJoin" in plan
    # scan nodes report the bucket layout
    assert "SelectedBucketsCount" in plan
    # and the join result is correct
    got = {r["o_orderpriority"]: r["sum_price"] for r in df.collect()}
    assert len(got) == 5 and all(v > 0 for v in got.values())


def test_bucketed_join_exchange_count(spark, sf_dir):
    tables = ("orders_bt2", "lineitem_bt2")
    scale.write_bucketed(spark, sf_dir, tables)
    plan = formatted_plan(scale.bucketed_join(spark, tables))
    # unbucketed this join needs 3 exchanges (2 join inputs + 1 agg);
    # bucketed it needs only the post-join agg exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_salted_agg_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        money2(F.sum(dec2("l_extendedprice"))).alias("sum_price"),
        F.count("*").alias("n_rows"),
    )
    a = {tuple(r) for r in scale.salted_group_sum(spark, sf_dir).collect()}
    b = {tuple(r) for r in plain.collect()}
    assert a == b  # decimal sums are associative -> bit-identical


def test_partitioned_prune_gate_query(spark, sf_dir, tmp_path):
    """The gated wrapper prunes at the partition level AND survives a
    testdata refresh (fingerprint marker forces a rewrite). Uses a
    private out_dir so the test never races the gate's shared /tmp
    cache when selfcheck runs concurrently."""
    import os

    out = str(tmp_path / "orders_part_private")
    df = scale.scale_partitioned_prune(spark, sf_dir, out_dir=out)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters:")[1].splitlines()[0]
    rows = df.collect()
    assert rows and all(r["n_orders"] > 0 for r in rows)
    marker = os.path.join(out, "_SOURCE_FINGERPRINT")
    assert os.path.isfile(marker)
    # poison the marker -> next call must rewrite (and heal the marker)
    with open(marker, "w") as fh:
        fh.write("stale")
    scale.scale_partitioned_prune(spark, sf_dir, out_dir=out).collect()
    with open(marker) as fh:
        assert fh.read().strip() != "stale"


def test_skew_report_shares(spark, sf_dir):
    rows = scale.scale_skew_report(spark, sf_dir).collect()
    assert len(rows) == 10
    ns = [r["n_rows"] for r in rows]
    assert ns == sorted(ns, reverse=True)
    # top-10 shares are each <= 100% and jointly <= 100%
    assert all(0 <= r["share_ppm"] <= 1_000_000 for r in rows)
    assert sum(r["share_ppm"] for r in rows) <= 1_000_000


def test_aqe_splits_skewed_join(spark):
    """The 100 TB skew posture for JOINS: AQE detects a hot key at
    runtime and splits the skewed partition (salting stays the tool
    for skewed AGGREGATIONS — test_salted_agg_equals_plain). Pinned
    with lowered thresholds so the local fixture trips the optimizer;
    the executed plan must carry the skew=true marker."""
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hot = spark.range(200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("va")
        )
        rest = spark.range(10_000).select(
            (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("va")
        )
        b = spark.range(101).select(F.col("id").alias("k"), (F.col("id") * 2).alias("vb"))
        j = hot.union(rest).join(b, "k").groupBy().agg(F.count("*").alias("n"))
        [row] = j.collect()
        assert row["n"] == 210_000  # every row finds its key
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bitmap_distinct_equals_exact(spark, sf_dir):
    rows = scale.scale_bitmap_distinct(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_nations"] == r["n_distinct"]  # popcount == exact
        assert 0 < r["n_nations"] <= 25
        assert r["nation_bitmap"] < (1 << 25)


def test_zorder_buckets_shrink_both_spans(spark, sf_dir):
    """The point of Z-ordering: the average bucket bounding box must be
    dramatically smaller than row-order buckets (which span ~ the
    full key domain); the bounding-box area — what multi-dimensional
    data skipping prunes on — must shrink by an order of magnitude."""
    from catme_etl_j_spark.operators.scale import scale_zorder_locality

    rows = scale_zorder_locality(spark, sf_dir).collect()
    z = [r for r in rows if r["strategy"] == "zorder"]
    r_ = [r for r in rows if r["strategy"] == "roworder"]
    assert len(z) == len(r_) == 64
    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
    z_pk, r_pk = avg([x["pk_span"] for x in z]), avg([x["pk_span"] for x in r_])
    z_sk, r_sk = avg([x["sk_span"] for x in z]), avg([x["sk_span"] for x in r_])
    # pk has a wide domain: z-order shrinks it dramatically; sk's domain
    # is only ~10 values at small SF, so require improvement, not ratio
    assert z_pk < r_pk / 4, (z_pk, r_pk)
    assert z_sk < r_sk, (z_sk, r_sk)
    # the pruning metric is the bounding-box AREA: both dims at once
    z_area = avg([x["pk_span"] * x["sk_span"] for x in z])
    r_area = avg([x["pk_span"] * x["sk_span"] for x in r_])
    assert z_area < r_area / 8, (z_area, r_area)


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    """The small-files remedy: a fragmented write (64 shuffle-sized
    files) compacts to a bounded file count via repartition, preserving
    every row — the nightly OPTIMIZE job's core mechanic."""
    from catme_etl_j_spark.sources.tables import load_table
    import os

    ev = load_table(spark, sf_dir, "events")
    frag = str(tmp_path / "frag")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_frag == 64
    comp = str(tmp_path / "compact")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(comp)
    n_comp = len([f for f in os.listdir(comp) if f.endswith(".parquet")])
    assert n_comp == 4
    assert spark.read.parquet(comp).count() == ev.count()


def test_minmax_pruning_contrast(spark, sf_dir):
    """The zone-map accounting proves the layout thesis: a date-
    clustered layout skips most files for a one-year predicate while
    insertion order skips none — and no skipped file ever holds a
    matching row (the skip decision is SAFE, never lossy). Both
    strategies see the same total matches (layout can't change the
    answer)."""
    rows = scale.scale_minmax_pruning(spark, sf_dir).collect()
    by = {}
    for r in rows:
        by.setdefault(r["strategy"], []).append(r)
    assert set(by) == {"roworder", "datesorted"}
    for members in by.values():
        assert sum(r["n_rows"] for r in members) == sum(
            x["n_rows"] for x in by["roworder"]
        )
    # safety: a file flagged skippable contains zero matching rows
    assert all(r["n_match"] == 0 for r in rows if r["can_skip"])
    # contrast: datesorted prunes most files, roworder none
    ds_skip = sum(1 for r in by["datesorted"] if r["can_skip"])
    ro_skip = sum(1 for r in by["roworder"] if r["can_skip"])
    assert ds_skip >= len(by["datesorted"]) // 2, ds_skip
    assert ro_skip == 0, ro_skip
    # layout invariance: both strategies agree on total matches
    assert sum(r["n_match"] for r in by["datesorted"]) == sum(
        r["n_match"] for r in by["roworder"]
    )
    # zone maps are consistent: min <= max per file
    assert all(r["min_ship"] <= r["max_ship"] for r in rows)


def test_degenerate_fixture_stays_in_contract(tmp_path):
    """The degenerate-probe fixture (tools/gen_degenerate.py) is only
    useful if it stays IN CONTRACT — every sweep failure on it must be
    a real engine bug, never a broken precondition. Pin the documented
    structural invariants: regeneration is deterministic, keys unique,
    FKs valid, n_chars == length(text) in characters, the query vector
    present and nonzero, vectors 64-dim, and the degenerate axes that
    make the probe bite (a zero-norm vector, an all-same-second user,
    a singleton label) actually present."""
    import subprocess
    import sys

    import duckdb

    dst = str(tmp_path / "degen")
    gen = ["/root/repo/tools/gen_degenerate.py", dst]
    subprocess.run([sys.executable, *gen], check=True, capture_output=True)
    con = duckdb.connect()
    q = lambda s: con.sql(s.replace("DIR", dst)).fetchone()  # noqa: E731

    # keys unique, every table non-empty
    for t, k in [
        ("customer", "c_custkey"), ("supplier", "s_suppkey"),
        ("part", "p_partkey"), ("orders", "o_orderkey"),
        ("events", "event_id"), ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ]:
        n, nk = q(f"SELECT COUNT(*), COUNT(DISTINCT {k}) FROM 'DIR/{t}.parquet'")
        assert n >= 1 and n == nk, (t, n, nk)
    # FKs valid
    assert q("SELECT COUNT(*) FROM 'DIR/lineitem.parquet' l "
             "LEFT JOIN 'DIR/orders.parquet' o ON l.l_orderkey = o.o_orderkey "
             "WHERE o.o_orderkey IS NULL")[0] == 0
    assert q("SELECT COUNT(*) FROM 'DIR/orders.parquet' o "
             "LEFT JOIN 'DIR/customer.parquet' c ON o.o_custkey = c.c_custkey "
             "WHERE c.c_custkey IS NULL")[0] == 0
    # documents contract + degenerate axes
    assert q("SELECT COUNT(*) FROM 'DIR/documents.parquet' "
             "WHERE n_chars <> length(text)")[0] == 0
    assert q("SELECT COUNT(*) FROM 'DIR/documents.parquet' WHERE text = ''")[0] >= 1
    assert q("SELECT COUNT(*) FROM 'DIR/documents.parquet' "
             "WHERE octet_length(encode(text)) > length(text)")[0] >= 1  # multibyte
    # embeddings contract + degenerate axes
    assert q("SELECT COUNT(*) FROM 'DIR/embeddings.parquet' "
             "WHERE len(embedding) <> 64")[0] == 0
    assert q("SELECT COUNT(*) FROM 'DIR/embeddings.parquet' "
             "WHERE vec_id = 0 AND list_sum(list_transform(embedding, x -> abs(x))) > 0")[0] == 1
    assert q("SELECT COUNT(*) FROM 'DIR/embeddings.parquet' "
             "WHERE list_sum(list_transform(embedding, x -> abs(x))) = 0")[0] >= 1
    assert q("SELECT COUNT(*) FROM (SELECT label FROM 'DIR/embeddings.parquet' "
             "GROUP BY label HAVING COUNT(*) = 1)")[0] >= 1  # singleton label
    # events degenerate axes: one user entirely within one second
    assert q("SELECT COUNT(*) FROM (SELECT user_id FROM 'DIR/events.parquet' "
             "GROUP BY user_id HAVING COUNT(*) > 1 AND MIN(ts) = MAX(ts))")[0] >= 1
    # deterministic regeneration: byte-identical row content
    dst2 = str(tmp_path / "degen2")
    subprocess.run([sys.executable, gen[0], dst2], check=True, capture_output=True)
    for t in ("lineitem", "events", "documents", "embeddings"):
        a = con.sql(f"SELECT * FROM '{dst}/{t}.parquet' ORDER BY ALL").fetchall()
        b = con.sql(f"SELECT * FROM '{dst2}/{t}.parquet' ORDER BY ALL").fetchall()
        assert a == b, t
