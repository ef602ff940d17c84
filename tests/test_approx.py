"""Approximate aggregates (sketches) — error-bounded against exact.

No DuckDB oracle here by design: HLL/quantile sketch internals differ
between engines, so the correctness statement is an error bound, not
equality.
"""

from pyspark.sql import functions as F

from catme_etl_j_spark.sources.tables import load_table


import pytest

# Deep/expensive class (plan pins, iterative loops, streaming waits):
# excluded from the fast gate `pytest -m "not slow"`; the FULL suite
# (including these) runs at round close.
pytestmark = pytest.mark.slow


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.06  # 3x rsd


def test_percentile_approx_brackets_exact(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    row = orders.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_med"),
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("approx_med"),
        F.expr("percentile(o_totalprice, 0.9)").alias("exact_p90"),
        F.percentile_approx("o_totalprice", 0.9, 1000).alias("approx_p90"),
    ).collect()[0]
    assert abs(row["approx_med"] - row["exact_med"]) / row["exact_med"] < 0.02
    assert abs(row["approx_p90"] - row["exact_p90"]) / row["exact_p90"] < 0.02


def test_portable_hll_error_bound_and_branch(spark, sf_dir):
    """The portable HLL (operators/sketch.py) must land within the
    theoretical rsd for m=4096 (1.04/sqrt(4096) ~ 1.6%; allow 3x) and,
    at sf0.001, take the linear-counting branch (empty buckets)."""
    from catme_etl_j_spark.operators.sketch import sketch_hll_distinct

    row = sketch_hll_distinct(spark, sf_dir).collect()[0]
    assert row["n_exact"] > 0
    assert abs(row["hll_estimate"] - row["n_exact"]) / row["n_exact"] < 0.05
    assert 0 < row["n_buckets_used"] <= 4096


def test_portable_hll_rho_case_spark_side(spark):
    """rho CASE: leading-zero-bits + 1 over the 48-bit word, string-computed.
    Spot-check boundary words against the arithmetic definition."""
    from catme_etl_j_spark.operators.sketch import _rho_case

    rows = spark.sql(
        "SELECT z, " + _rho_case("z") + " AS rho FROM VALUES "
        "('800000000000'), ('400000000000'), ('100000000000'), "
        "('0fffffffffff'), ('000000000001'), ('000000000000') AS t(z)"
    ).collect()
    got = {r["z"]: r["rho"] for r in rows}
    assert got == {
        "800000000000": 1,
        "400000000000": 2,
        "100000000000": 4,
        "0fffffffffff": 5,
        "000000000001": 48,
        "000000000000": 49,
    }


def test_countmin_never_underestimates(spark, sf_dir):
    """CMS guarantee: estimate >= exact, always (collisions only add)."""
    from catme_etl_j_spark.operators.sketch import sketch_countmin_topwords

    rows = sketch_countmin_topwords(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_estimate"] >= r["exact_cnt"]
        assert r["overcount"] == r["cms_estimate"] - r["exact_cnt"]


def test_bloom_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: every true member passes the filter, so
    n_bloom_pass >= n_exact_match and false positives account for the
    whole difference."""
    from catme_etl_j_spark.operators.sketch import sketch_bloom_join_prune

    row = sketch_bloom_join_prune(spark, sf_dir).collect()[0]
    assert row["n_bloom_pass"] >= row["n_exact_match"]
    assert row["n_bloom_pass"] - row["n_exact_match"] == row["n_false_pos"]
    assert row["n_probe_rows"] > 0


def test_bloom_probe_plan_no_probe_shuffle(spark, sf_dir):
    """The fact side must reach the final aggregate through broadcast
    joins only — no Exchange between the orders scan and the agg."""
    from catme_etl_j_spark.operators.sketch import sketch_bloom_join_prune

    plan = sketch_bloom_join_prune(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_approx_grouped(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact"),
            F.approx_count_distinct("l_partkey").alias("approx"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r["approx"] - r["exact"]) / max(r["exact"], 1) < 0.15


def test_histogram_quantile_upper_edge(spark, sf_dir):
    """Estimate = upper edge of covering bin, so est >= exact; and the
    bin width bounds the error."""
    from catme_etl_j_spark.operators.sketch import (
        HIST_BINS,
        sketch_histogram_quantiles,
    )

    rows = sketch_histogram_quantiles(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["hist_est"] >= r["exact_val"]
        assert r["err_pct"] >= 0
    # err bounded by ~1 bin of the full range over the smallest exact
    assert all(r["err_pct"] < 100.0 / HIST_BINS * 50 for r in rows)


def test_embed_quantize_reconstruction_bound(spark, sf_dir):
    """Every vector's mean reconstruction error is below one quantization
    step of the widest dimension."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.operators.embed import embed_quantize_int8
    from catme_etl_j_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    widest = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg((F.max("x") - F.min("x")).cast("double").alias("rng"))
        .agg(F.max("rng").alias("w"))
        .collect()[0]["w"]
    )
    step = widest / 255.0
    rows = embed_quantize_int8(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_dims"] == 64
        mean_err = r["abs_err_e8"] / 1e8 / r["n_dims"]
        assert mean_err <= step  # quantization error < 1 step on average


def test_mmr_rerank_semantics(spark, sf_dir):
    """Rank-1 is the pure-relevance top-1; every later pick trades
    relevance for diversity, so rel_e6 within the selection need not be
    monotone but the set must come from the candidate pool."""
    from catme_etl_j_spark.operators.similarity import (
        _MMR_K,
        _MMR_N,
        ann_mmr_rerank,
        ann_topk_bruteforce,
    )

    sel = ann_mmr_rerank(spark, sf_dir).collect()
    assert [r["rank"] for r in sel] == list(range(1, _MMR_K + 1))
    assert len({r["vec_id"] for r in sel}) == _MMR_K
    top = ann_topk_bruteforce(spark, sf_dir).collect()
    assert sel[0]["vec_id"] == top[0]["vec_id"]  # first pick = argmax rel
    # rank-1 score is pure relevance (no diversity term). NB: later
    # scores can EXCEED 7*rel when the max-sim to prior picks is
    # negative (random embeddings -> negative cosines are common), so
    # only the exact rank-1 identity is pinned here; the full greedy
    # arithmetic is oracle-checked by selfcheck.
    assert sel[0]["mmr_score_e6x10"] == 7 * sel[0]["rel_e6"]
    assert _MMR_N >= _MMR_K


def test_cohort_matrix_offsets(spark, sf_dir):
    """Offset 0 exists for every cohort and counts the full cohort
    (every user is active in their own first week by construction)."""
    from catme_etl_j_spark.operators.events import events_cohort_matrix

    rows = events_cohort_matrix(spark, sf_dir).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        assert r["week_offset"] >= 0
        by_cohort.setdefault(r["cohort_week"], {})[r["week_offset"]] = r["n_users"]
    for offs in by_cohort.values():
        assert 0 in offs
        # retention never exceeds the cohort's own size
        assert all(n <= offs[0] for n in offs.values())


def test_centroid_outliers_cosine_bounds(spark, sf_dir):
    from catme_etl_j_spark.operators.embed import (
        CENTROID_BOTTOM_K,
        embed_centroid_outliers,
    )

    rows = embed_centroid_outliers(spark, sf_dir).collect()
    assert len(rows) == CENTROID_BOTTOM_K
    sims = [r["centroid_cos"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= v <= 1.0 for v in sims)


def test_kmv_error_bound_and_merge(spark, sf_dir):
    """KMV estimate within ~4x the theoretical rsd (1/sqrt(K-2) ~= 6%
    for K=256); the __merged__ row is derived only from per-source
    states yet must still bound the global distinct count; every
    sketch-branch group carries a full K-value state."""
    from catme_etl_j_spark.operators.sketch import KMV_K, MERGED_KEY, sketch_kmv_distinct

    rows = {r["source"]: r for r in sketch_kmv_distinct(spark, sf_dir).collect()}
    assert MERGED_KEY in rows
    for r in rows.values():
        if r["n_state"] >= KMV_K:
            assert r["n_state"] == KMV_K
            assert abs(r["kmv_estimate"] - r["n_exact"]) / r["n_exact"] < 0.25
        else:
            assert r["kmv_estimate"] == r["n_exact"]
    merged = rows[MERGED_KEY]
    per_max = max(r["n_exact"] for k, r in rows.items() if k != MERGED_KEY)
    assert merged["n_exact"] >= per_max
    assert merged["kth_min"] <= min(
        r["kth_min"] for k, r in rows.items() if k != MERGED_KEY
    )


def test_covariance_matches_numpy(spark, sf_dir):
    """The exact fixed-point covariance must agree with numpy's
    population covariance of the quantized components to 1e-8, and the
    diagonal must be non-negative."""
    import numpy as np

    from catme_etl_j_spark.operators.embed import COV_SCALE, embed_covariance
    from catme_etl_j_spark.sources.tables import load_table

    rows = embed_covariance(spark, sf_dir).collect()
    assert len(rows) == 64 * 65 // 2
    emb = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    arr = np.stack([np.array(r["embedding"], dtype=np.float64) for r in emb])
    q = np.floor(arr * COV_SCALE + 0.5)
    n = len(q)
    cov = (q.T @ q) / n - np.outer(q.sum(0) / n, q.sum(0) / n)
    cov /= COV_SCALE * COV_SCALE
    for r in rows[:300]:
        assert abs(r["cov"] - cov[r["i"], r["j"]]) < 2e-8, (r, cov[r["i"], r["j"]])
        if r["i"] == r["j"]:
            assert r["cov"] >= 0.0


def test_filtered_topk_recall_audit(spark, sf_dir):
    """Pre-filter results all satisfy the predicate; any row the
    post-filter found must carry a pool rank; descending cosine."""
    from catme_etl_j_spark.operators.similarity import (
        ANN_FILTER_MOD,
        TOP_K,
        ann_filtered_topk,
    )

    rows = ann_filtered_topk(spark, sf_dir).collect()
    assert len(rows) == TOP_K
    assert all(r["label"] % ANN_FILTER_MOD == 0 for r in rows)
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    for r in rows:
        if r["found_by_postfilter"]:
            assert r["post_rank"] is not None


def test_theta_setops_identities(spark, sf_dir):
    """Sketch set-algebra sanity: the five estimates respect exact set
    identities on the STATE side (|union| = |A|+|B|-|intersect| within
    the common-theta filter, A\\B + intersect = A's surviving state),
    estimates are exact while sketches are in exact mode (theta =
    2^32), and estimation-mode error stays inside ~5/sqrt(K) of truth
    for every op."""
    from catme_etl_j_spark.operators.sketch import THETA_K, _POW32
    from catme_etl_j_spark.operators.sketch import sketch_theta_setops

    rows = {r["op"]: r for r in sketch_theta_setops(spark, sf_dir).collect()}
    assert set(rows) == {"a_click", "b_purchase", "union", "intersect", "a_not_b"}
    th = rows["union"]["theta"]
    assert th == min(rows["a_click"]["theta"], rows["b_purchase"]["theta"])
    # a_not_b + intersect partitions A's state surviving theta', so
    # together they can never exceed A's full state
    assert (
        rows["a_not_b"]["n_state"] + rows["intersect"]["n_state"]
        <= rows["a_click"]["n_state"]
    )
    # exact-side identities hold by construction; check them anyway
    assert (
        rows["union"]["exact"]
        == rows["a_click"]["exact"] + rows["b_purchase"]["exact"] - rows["intersect"]["exact"]
    )
    assert rows["a_not_b"]["exact"] == rows["a_click"]["exact"] - rows["intersect"]["exact"]
    for r in rows.values():
        if r["theta"] == _POW32:  # exact mode
            assert r["theta_estimate"] == r["exact"], r
        elif r["exact"] > 0:  # estimation mode: generous 5/sqrt(K) bound
            bound = 5.0 / (THETA_K ** 0.5)
            assert abs(r["theta_estimate"] - r["exact"]) <= max(
                bound * r["exact"], 3
            ), r


def test_matryoshka_recall_sanity(spark, sf_dir):
    """The full-dimension row is the self-recall control (exactly
    100%), every truncated recall is a valid percentage over a full
    top-k, and the frame has one row per configured prefix."""
    from catme_etl_j_spark.operators.similarity import (
        MRL_DIMS,
        TOP_K,
        ann_matryoshka_recall,
    )

    rows = {r["dim"]: r for r in ann_matryoshka_recall(spark, sf_dir).collect()}
    assert set(rows) == set(MRL_DIMS)
    full = rows[MRL_DIMS[-1]]
    assert full["n_hits"] == full["n_topk"] == TOP_K
    assert full["recall_pct"] == 100.0
    for r in rows.values():
        assert r["n_topk"] == TOP_K
        assert 0 <= r["n_hits"] <= TOP_K
        assert 0.0 <= r["recall_pct"] <= 100.0


def test_nn_within_label_cap_exact_below_pool_cap(spark, sf_dir):
    """Exactness proof for the NN_POOL_CAP candidate pool (VERDICT r9
    #4): at gate fixtures every label block fits the cap, so the
    capped query must be BIT-IDENTICAL to the uncapped exact
    all-pairs form — and a synthetic over-cap block must still return
    one best-of-pool row per vector (linear pair count, no silent row
    loss)."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.operators.similarity import (
        NN_POOL_CAP,
        _nn_pool,
        _prescaled,
        ann_nn_within_label,
    )
    from catme_etl_j_spark.functions.numeric import rdet
    from catme_etl_j_spark.operators.similarity import _dot_fx

    emb = _prescaled(spark, sf_dir)
    max_block = emb.groupBy("label").count().agg(F.max("count")).first()[0]
    assert max_block <= NN_POOL_CAP, "gate fixture outgrew the pool cap"

    capped = {
        (r["vec_id"], r["label"], r["nn_id"], r["cos_sim"])
        for r in ann_nn_within_label(spark, sf_dir).collect()
    }
    # uncapped exact form: full within-label pair grid
    a = emb.select("vec_id", "label", F.col("fx").alias("fa"), F.col("norm").alias("na"))
    b = emb.select(F.col("vec_id").alias("nn_id"), "label", F.col("fx").alias("fb"), F.col("norm").alias("nb"))
    cos = rdet(
        F.expr(f"CAST({_dot_fx('fa', 'fb')} AS DOUBLE)") / (F.col("na") * F.col("nb")), 6
    )
    exact = {
        (r["vec_id"], r["label"], r["nn_id"], r["cos_sim"])
        for r in (
            a.join(b, "label")
            .filter(F.col("vec_id") != F.col("nn_id"))
            .select("vec_id", "label", "nn_id", cos.alias("cos_sim"))
            .groupBy("vec_id")
            .agg(F.max(F.struct("cos_sim", (-F.col("nn_id")).alias("neg"), "label")).alias("m"))
            .select(
                "vec_id",
                F.col("m.label").alias("label"),
                (-F.col("m.neg")).cast("long").alias("nn_id"),
                F.col("m.cos_sim").alias("cos_sim"),
            )
            .collect()
        )
    }
    assert capped == exact

    # over-cap behavior: pool is exactly the CAP lowest vec_ids
    pool = _nn_pool(emb.limit(0).unionByName(emb))  # same frame, fresh plan
    n_pool = pool.groupBy("label").count().agg(F.max("count")).first()[0]
    assert n_pool <= NN_POOL_CAP


def test_lsh_pairs_cogroup_matches_join(spark, sf_dir):
    """r11: the cogrouped (band, bucket) block-matmul pair stage must be
    bit-identical to the banded self-join + per-pair dot formulation it
    replaced, here with the JVM ``_dot_fx`` fold as the dot (exceptAll
    both ways empty), including the threshold filter and the cross-band
    dedup."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.functions.numeric import rdet
    from catme_etl_j_spark.operators import similarity as S

    emb = S._prescaled(spark, sf_dir).cache()
    banded = (
        emb.select("vec_id", S.buckets_pandas()("fx").alias("bks"))
        .select("vec_id", F.posexplode("bks").alias("band", "bucket"))
        .cache()
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    x = emb.select(F.col("vec_id").alias("vec_a"), F.col("fx").alias("fa"), F.col("norm").alias("na"))
    y = emb.select(F.col("vec_id").alias("vec_b"), F.col("fx").alias("fb"), F.col("norm").alias("nb"))
    cos = rdet(
        F.expr(f"CAST({S._dot_fx('fa', 'fb')} AS DOUBLE)") / (F.col("na") * F.col("nb")), 6
    )
    old = (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= S.COS_THRESHOLD)
    )
    new = S.ann_lsh_hyperplane_pairs(spark, sf_dir)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    assert new.count() > 0  # non-vacuous at every fixture scale
    spark.catalog.clearCache()
