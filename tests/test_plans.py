"""Scale-posture assertions on physical plans (not just results).

Each assertion encodes a 100 TB requirement: filter/column pushdown
into the parquet scan, broadcast joins for constant-size dims, window
exchange reuse, and whole-stage codegen on hot paths.
"""

from catme_etl_j_spark.operators import relational
from catme_etl_j_spark.plans.explain import formatted_plan


import pytest

# Deep/expensive class (plan pins, iterative loops, streaming waits):
# excluded from the fast gate `pytest -m "not slow"`; the FULL suite
# (including these) runs at round close.
pytestmark = pytest.mark.slow


def test_q06_filters_pushed_to_scan(spark, sf_dir):
    plan = formatted_plan(relational.q06_revenue_delta(spark, sf_dir))
    assert "PushedFilters:" in plan
    # shipdate range + discount + quantity must reach the reader
    assert "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_quantity" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_q06_column_pruning(spark, sf_dir):
    plan = formatted_plan(relational.q06_revenue_delta(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 4 referenced columns are read from an 11-column table
    for col in ("l_extendedprice", "l_discount", "l_quantity", "l_shipdate"):
        assert col in read_schema
    for col in ("l_orderkey", "l_partkey", "l_comment", "l_returnflag"):
        assert col not in read_schema


def test_q05_broadcasts_dims(spark, sf_dir):
    plan = formatted_plan(relational.q05_local_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_q01_whole_stage_codegen_and_partial_agg(spark, sf_dir):
    df = relational.q01_pricing_summary(spark, sf_dir)
    plan = formatted_plan(df)
    # partial (map-side) aggregation before the shuffle
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    # codegen-mode explain lists the generated subtrees
    assert "WholeStageCodegen" in formatted_plan(df, mode="codegen")


def test_semi_and_anti_join_operators(spark, sf_dir):
    semi = formatted_plan(relational.join_semi_open_orders(spark, sf_dir))
    anti = formatted_plan(relational.join_anti_no_orders(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_topk_is_limit_pushdown_not_full_sort(spark, sf_dir):
    plan = formatted_plan(relational.topk_global(spark, sf_dir))
    # TakeOrderedAndProject = per-partition top-k + merge, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_window_single_shuffle(spark, sf_dir):
    import re

    plan = formatted_plan(relational.window_running_total(spark, sf_dir))
    # one hash-partition exchange on o_custkey feeds the window sort
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Window" in plan


def test_scalar_subquery_broadcast(spark, sf_dir):
    plan = formatted_plan(relational.scalar_subquery_above_avg(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_minhash_lsh_shuffle_budget(spark, sf_dir):
    import re

    from catme_etl_j_spark.operators.dedup import dedup_minhash_lsh

    plan = formatted_plan(dedup_minhash_lsh(spark, sf_dir))
    # band self-join on the map-only Arrow signature frame: the
    # linear-cost LSH shape. At most 3 KEYED exchanges (a regression
    # beyond that means someone broke signature reuse); the r12 §2.5
    # scan spread is allowed as at most one extra ROUND-ROBIN exchange.
    kinds = re.findall(r"\(\d+\) Exchange\nArguments: ([A-Za-z]+)", plan)
    assert len([k for k in kinds if k != "RoundRobinPartitioning"]) <= 3, plan
    assert len([k for k in kinds if k == "RoundRobinPartitioning"]) <= 1, plan


def test_minhash_closure_edges_are_bucket_stars(spark, sf_dir):
    """The near-dup closure's edges come from ONE window keyed on the
    LSH bucket (each member -> bucket minimum), never from a band-frame
    self-join, whose pair count is quadratic in a hot bucket's size.
    One keyed exchange, plus at most the round-robin scan spread."""
    import re

    from catme_etl_j_spark.operators.dedup import _bucket_star_edges, _minhash_df

    # a bands frame an earlier test cached would match by plan equality,
    # and the cached relation prints its initial AND final plan, so the
    # scan spread would be listed twice
    spark.catalog.clearCache()
    plan = formatted_plan(_bucket_star_edges(_minhash_df(spark, sf_dir)))
    window = re.search(r"\(\d+\) Window\n.*\nArguments: (.*)", plan)
    assert window, plan
    assert window.group(1).startswith("[min(doc_id#"), plan
    assert re.search(r"\], \[band_idx#\d+, bh#\d+\]$", window.group(1)), plan
    assert "Join" not in plan, plan
    kinds = re.findall(r"\(\d+\) Exchange\nInput .*\nArguments: ([A-Za-z]+)", plan)
    assert [k for k in kinds if k != "RoundRobinPartitioning"] == ["hashpartitioning"], plan
    assert kinds.count("RoundRobinPartitioning") <= 1, plan


def test_corpus_pipeline_single_shuffle(spark, sf_dir):
    import re

    from catme_etl_j_spark.operators.corpus import corpus_clean_pipeline

    plan = formatted_plan(corpus_clean_pipeline(spark, sf_dir))
    # scrub+filter+fingerprint fuse into the scan stage; dedup's
    # groupBy(fp) is the only exchange in the whole pipeline
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_nn_within_label_salted_join_key(spark, sf_dir):
    """Skew guard: the within-label pairing must shuffle on
    (label, salt), not label alone — a hot label then spreads over
    NN_SALT reducers instead of flooding one. Since the r11 cogroup
    rewrite the pairing is a FlatMapCoGroupsInPandas whose BOTH input
    Exchanges hash-partition on (label, salt); the argmax happens
    inside the cogroup so the post-UDF stream is |vectors|, never
    |pairs|."""
    from catme_etl_j_spark.operators import similarity

    plan = formatted_plan(similarity.ann_nn_within_label(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    salted = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning" in ln and "salt" in ln and "label" in ln
    ]
    # probe side + pool side of the cogroup
    assert len(salted) >= 2, plan


def test_ivf_kmeans_broadcasts_codebook(spark, sf_dir):
    """The corpus-side k-means assignment must stay a linear scan —
    since the r11 driver-side-codebook rewrite that means ONE map-only
    ArrowEvalPython over the cached fx4 (no join, no shuffle before
    the candidate filter); the only join left is the broadcast re-rank
    join, and nothing may degenerate to a cartesian product."""
    from catme_etl_j_spark.operators import similarity

    import re

    plan = formatted_plan(similarity.ann_topk_ivf_kmeans(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # no cartesian product without a broadcast anywhere in the pipeline
    assert "CartesianProduct" not in plan
    # assignment is map-only: no Exchange between the cache scan and
    # the ArrowEvalPython (the single shuffle-shaped node allowed in
    # the whole plan is the re-rank join's BroadcastExchange)
    import re

    assert not re.findall(r"\(\d+\) Exchange", plan), plan


def test_winnow_staging_survives_optimizer(spark, sf_dir):
    """The r2 scale-killer regression guard: winnowing must evaluate the
    regexp-normalization chain ONCE per row, not once per character
    position. If CollapseProject ever re-inlines the staged `nt`/
    `hashes` columns, regexp_replace reappears more than twice (the two
    calls in the single NORM chain) in the optimized plan."""
    from catme_etl_j_spark.operators import text

    df = text.text_winnow_fingerprint(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") <= 2, plan
    # and the hash transform must appear once, not per window position
    assert plan.count("md5") == 1, plan


def test_gopher_splits_staged_once(spark, sf_dir):
    """Same inlining-hygiene guard for the gopher filter: each split
    array is computed once per row (2 split calls total: words + lines),
    not re-inlined into each of its ~4 consumers."""
    from catme_etl_j_spark.operators import text

    df = text.text_gopher_quality(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") <= 2, plan


def test_repetition_split_not_inlined_into_filters(spark, sf_dir):
    """text_repetition stages `w` once per branch (base/bigram/trigram =
    3 subplans max) and the explode_outer must keep the split out of any
    pushed Filter (the InferFiltersFromGenerate trap)."""
    from catme_etl_j_spark.operators import text

    df = text.text_repetition(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") <= 3, plan
    for line in plan.splitlines():
        if "Filter " in line:
            assert "split(" not in line, line


def test_pack_sequences_window_is_bucket_partitioned(spark, sf_dir):
    """The corpus-wide cumsum must never run as a full-corpus
    single-partition window: the per-doc window is partitioned by the
    prefix-sum bucket, and only the tiny bucket-totals rollup (corpus /
    PACK_BUCKET rows) uses an unpartitioned window."""
    from catme_etl_j_spark.operators import corpus

    df = corpus.corpus_pack_sequences(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    windows = [l for l in plan.splitlines() if "Window" in l and "windowspec" in l.lower()]
    # exactly one window over per-doc rows, keyed on bucket
    per_doc = [l for l in windows if "n_tok" in l]
    assert per_doc and all("bucket" in l for l in per_doc), plan


def test_corpus_chunk_no_shuffle(spark, sf_dir):
    """Chunking is per-row map + generate — any Exchange in the plan
    means an accidental shuffle crept into the hot path. The staged
    split must also stay out of pushed filters (generate trap)."""
    from catme_etl_j_spark.operators import corpus

    df = corpus.corpus_chunk(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys, phys
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Filter " in line:
            assert "split(" not in line, line


def test_bm25_per_doc_join_not_broadcast(spark, sf_dir):
    """Scale guard (VERDICT r3 "what's wrong #1", r11 form): nothing
    per-DOCUMENT may be broadcast. The r11 fused shape removed the
    per-doc ``dl`` join entirely — with auto-broadcast disabled, the
    only BroadcastExchanges left are the two hinted 1-ROW aggregates
    (avgdl+per-term dfs; n_docs), and no shuffle/broadcast join keyed
    on doc_id exists at all (the per-doc stream flows join-free from
    the single token-explode aggregate into the score aggregate)."""
    from catme_etl_j_spark.operators import ranking

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = formatted_plan(ranking.rank_bm25_search(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    import re

    # formatted mode lists each node twice (tree + detail); count the
    # numbered detail entries only
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 2, plan
    # no per-document equi-join survives (the old dl shuffle join)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_lexdiv_hapax_is_aggregate_not_array_scan(spark, sf_dir):
    """Per-row-quadratic guard (VERDICT r3 "what's wrong #2"): the hapax
    count must be the explode -> count -> re-agg shape, never the nested
    in-array filter(array_distinct(w), t -> ... filter(w, ...)) which is
    O(len^2) per document. No lambda filter over the token array may
    survive in the optimized plan, and the aggregate chain (per-token
    counts, then per-doc rollup) must be present."""
    from catme_etl_j_spark.operators import text

    df = text.text_lexical_diversity(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "array_distinct" not in plan, plan
    assert "lambdafunction" not in plan, plan
    phys = formatted_plan(df)
    assert phys.count("HashAggregate") >= 4, phys  # partial+final x2 levels
    # the explode must keep the split out of pushed filters (generate trap)
    for line in plan.splitlines():
        if "Filter " in line:
            assert "split(" not in line, line


def test_winnow_pairs_filter_not_inlined_below_generate(spark, sf_dir):
    """Regression guard for the InferFiltersFromGenerate trap: no Filter
    node in the optimized plan may contain the inlined winnow pipeline
    (regexp/md5) — that shape re-evaluates the normalization chain per
    array element (see dedup_winnow_pairs docstring)."""
    from catme_etl_j_spark.operators import dedup

    df = dedup.dedup_winnow_pairs(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Filter " in line:
            assert "regexp_replace" not in line, line
            assert "md5" not in line, line


def test_pq_topk_lut_joins_broadcast_no_cartesian(spark, sf_dir):
    """PQ/ADC scale shape: since the r11 driver-side-codebook rewrite
    the final plan is encode (ONE map-only ArrowEvalPython — the
    isnotnull pushdown that would re-evaluate it is pinned away) ->
    broadcast LUT join -> per-vector sum -> broadcast label join ->
    TakeOrderedAndProject (per-partition heap, no global sort); no
    cartesian product, and exactly one Exchange (the vec_id ADC
    aggregate)."""
    import re

    from catme_etl_j_spark.operators.similarity import ann_pq_topk

    plan = formatted_plan(ann_pq_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_resample_locf_shuffle_budget(spark, sf_dir):
    """Gap-fill + LOCF must stay two keyed shuffles (per-(user, day)
    aggregate, per-user grid/window) — a third exchange means the
    carry-forward window stopped reusing the user partitioning."""
    import re

    from catme_etl_j_spark.operators.events import events_resample_locf

    plan = formatted_plan(events_resample_locf(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan


def test_round4_text_corpus_plan_hygiene(spark, sf_dir):
    """The three explode-heavy round-4 pipelines must keep the staged
    split out of pushed filters (generate trap), never degenerate to a
    cartesian product, and stay within their keyed-shuffle budgets."""
    import re

    from catme_etl_j_spark.operators.corpus import (
        corpus_decontaminate,
        corpus_sample_temperature,
    )
    from catme_etl_j_spark.operators.text import text_bigram_lm_score

    budgets = {
        corpus_decontaminate: 6,
        text_bigram_lm_score: 10,
        corpus_sample_temperature: 5,
    }
    for fn, max_exchanges in budgets.items():
        plan = formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        n = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n <= max_exchanges, (fn.__name__, n)
        for line in plan.splitlines():
            if "Filter " in line:
                assert "split(" not in line, (fn.__name__, line)


def test_source_cap_window_is_source_partitioned(spark, sf_dir):
    """The per-domain cap must never collapse to a single partition:
    its window exchange hashes on source (and the rank filter is
    applied above the window, not via a global sort)."""
    from catme_etl_j_spark.operators.corpus import corpus_source_cap

    plan = formatted_plan(corpus_source_cap(spark, sf_dir))
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_quality_tiers_window_is_source_partitioned(spark, sf_dir):
    """NTILE tiers are computed per source — a global-window plan here
    would serialize the whole corpus through one task at 100 TB."""
    from catme_etl_j_spark.operators.text import text_quality_tiers

    plan = formatted_plan(text_quality_tiers(spark, sf_dir))
    assert "hashpartitioning(source" in plan
    assert "ntile(" in plan
    assert "SinglePartition" not in plan


def test_keep_best_window_is_cluster_partitioned(spark, sf_dir):
    """Cluster resolution windows on cluster_id (many small clusters),
    never a single global partition."""
    from catme_etl_j_spark.operators.dedup import dedup_minhash_keep_best

    plan = formatted_plan(dedup_minhash_keep_best(spark, sf_dir))
    assert "hashpartitioning(cluster_id" in plan
    assert "SinglePartition" not in plan


def test_bigram_topk_partial_agg_and_limit(spark, sf_dir):
    """Bigram counting map-side combines and the top-k is a
    TakeOrderedAndProject, not a global sort."""
    from catme_etl_j_spark.operators.corpus import corpus_bigram_topk

    plan = formatted_plan(corpus_bigram_topk(spark, sf_dir))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_e2e_funnel_reads_checkpoint_not_parquet(spark, sf_dir):
    """The five funnel consumers must read the materialized staged
    frame (ExistingRDD), not re-scan documents.parquet per stage."""
    from catme_etl_j_spark.operators.corpus import corpus_e2e_funnel

    plan = formatted_plan(corpus_e2e_funnel(spark, sf_dir))
    assert "documents.parquet" not in plan
    assert "ExistingRDD" in plan


def test_twap_window_is_user_partitioned(spark, sf_dir):
    from catme_etl_j_spark.operators.events import events_twap

    plan = formatted_plan(events_twap(spark, sf_dir))
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_rfm_single_shuffle_and_broadcast_scalars(spark, sf_dir):
    """One per-user exchange; the global scalar row joins via broadcast
    nested loop, never a shuffled cross product."""
    from catme_etl_j_spark.operators.events import events_rfm_segments

    plan = formatted_plan(events_rfm_segments(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_stats_single_pass_partial_agg(spark, sf_dir):
    """Both statistics run as ONE scan with map-side partial aggregation
    and column pruning — the shuffle carries groups x moments only."""
    from catme_etl_j_spark.operators import stats

    for q in (stats.stats_ols_regression, stats.stats_corr_matrix):
        plan = formatted_plan(q(spark, sf_dir))
        assert "partial_" in plan  # map-side combine before the exchange
        # ONE scan node (formatted explain prints it twice: tree + detail)
        assert plan.count("Scan parquet") <= 2
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_orderkey" not in read_schema  # pruned


def test_skew_report_broadcasts_total(spark, sf_dir):
    from catme_etl_j_spark.operators import scale

    plan = formatted_plan(scale.scale_skew_report(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # top-k never globally sorts: limit pushed into TakeOrderedAndProject
    assert "TakeOrderedAndProject" in plan


def test_cohort_matrix_reuses_user_partitioning(spark, sf_dir):
    """The join back to first-seen must not re-shuffle the agg side on
    a different key: every exchange in the plan is on user_id or the
    final matrix key."""
    from catme_etl_j_spark.operators.events import events_cohort_matrix

    plan = formatted_plan(events_cohort_matrix(spark, sf_dir))
    ex = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
    assert ex, "expected hash exchanges"
    assert all(("user_id" in ln) or ("cohort_week" in ln) for ln in ex)


def test_kmv_prefilter_broadcasts_taus(spark, sf_dir):
    """The KMV cardinality prefilter must reach the hash stream as a
    BROADCAST join (20-row tau table) — a shuffled join here would
    defeat the point of trimming before the bottom-k shuffle."""
    from catme_etl_j_spark.operators.sketch import sketch_kmv_distinct

    plan = formatted_plan(sketch_kmv_distinct(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_incremental_index_joins_bands_not_pairs(spark, sf_dir):
    """The incremental dedup must probe the index via the banded
    equi-join (SortMergeJoin/ShuffledHashJoin on band hash) and never
    build a corpus-wide pair product: no CartesianProduct or
    BroadcastNestedLoopJoin anywhere in the plan."""
    from catme_etl_j_spark.operators.dedup import dedup_incremental_index

    plan = formatted_plan(dedup_incremental_index(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_covariance_partial_aggregation(spark, sf_dir):
    """Since the r11 Gram-partials rewrite the corpus is read ONCE by
    a map-only Arrow pass (no posexplode, no vec_id self-join); the
    shuffle carries the per-partition partial cells (~2,145 rows per
    task, partial-aggregated map-side), and the marginal/count joins
    run on the cached cell frame, never against the corpus."""
    from catme_etl_j_spark.operators.embed import embed_covariance

    plan = formatted_plan(embed_covariance(spark, sf_dir))
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "Generate" not in plan  # no posexplode anywhere
    tree = plan.split("\n\n")[0]
    # exactly one physical corpus scan: the tree re-prints the shared
    # InMemoryRelation lineage per consumer, but every "Scan parquet"
    # line carries the same node id
    import re

    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) <= 1, tree


def test_scd2_fact_join_is_equi_join_on_custkey(spark, sf_dir):
    """The interval lookup must be an equi-join on custkey with the
    date predicates as residual filter — not a range-join cross
    product."""
    from catme_etl_j_spark.operators.etl import etl_scd2_fact_join

    plan = formatted_plan(etl_scd2_fact_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_month_in_flight_is_sweep_line_not_explode(spark, sf_dir):
    """The sweep-line plan must NOT explode per overlapped month (the
    fixture's 27-month average interval makes that ~28x the fact) —
    only the two-event delta generates and the tiny month spine appear,
    and there is no nested-loop range join anywhere."""
    from catme_etl_j_spark.operators.rangejoin import range_month_in_flight
    from catme_etl_j_spark.plans.explain import formatted_plan

    plan = formatted_plan(range_month_in_flight(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # delta events are 2-element array explodes; the month-sequence
    # explode exists ONLY on the single-row spine aggregate (sequence
    # over min/max), never over the fact table
    assert "sequence(lo" in plan or "sequence(min" in plan or "sequence" in plan
    # the running sum is a window over the spine, after the deltas
    assert plan.count("Window") >= 1


def test_embed_e2e_candidates_are_bucket_equi_join(spark, sf_dir):
    """Candidate generation must be a hash equi-join on the sign bucket
    (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin on bk), with
    nested-loop joins ONLY for the single-row stat combination."""
    import re

    import pyspark.sql.functions as F

    from catme_etl_j_spark.operators.embed import _e2e_pairs, embed_e2e_pipeline
    from catme_etl_j_spark.plans.explain import formatted_plan
    from catme_etl_j_spark.sources.tables import load_table

    # the pair stage pre-checkpoint: equi-join on the sign bucket
    valid = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("key"),
            F.expr("array(CAST(1 AS BIGINT))").alias("fx"),
            # a VARYING bucket — a literal would constant-fold the join
            # condition away and degenerate the plan to a nested loop
            (F.col("doc_id") % 7).alias("bucket"),
            F.lit(1.0).alias("norm"),
        )
    )
    pair_plan = formatted_plan(_e2e_pairs(valid))
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", pair_plan)
    assert "CartesianProduct" not in pair_plan

    # the assembled summary: no cartesian; nested loops only as the
    # Cross BuildRight single-row stat pattern
    plan = formatted_plan(embed_e2e_pipeline(spark, sf_dir))
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line and "Cross" in line:
            assert "BuildRight" in line


def test_bpe_tokenize_replace_chain_is_one_projection(spark, sf_dir):
    """The 50 merge replaces must collapse into a single Project over
    the (source, word) aggregate — 50 stacked projections would break
    whole-stage codegen."""
    from catme_etl_j_spark.operators.corpus import corpus_bpe_tokenize
    from catme_etl_j_spark.plans.explain import formatted_plan

    df = corpus_bpe_tokenize(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("replace(") >= 50  # the chain is present...
    # ...inside a plan with few Projects (chain fused, not stacked)
    assert plan.count("(Project") + plan.count(") Project") < 15
    assert "WholeStageCodegen" in formatted_plan(df, mode="codegen")


def test_ams_f2_combines_to_sixteen_keys(spark, sf_dir):
    """Since the r11 fused-aggregate rewrite: ONE documents scan, ONE
    global aggregate computing all 16 counters as columns (map-side
    partial_sum, so 18 values shuffle per task), no 16-way explode of
    the shingle table, no crossJoin, no checkpoint boundary — exactly
    two Exchanges end-to-end (count-by-shingle + global)."""
    import re

    from catme_etl_j_spark.operators.sketch import sketch_ams_f2
    from catme_etl_j_spark.plans.explain import formatted_plan

    plan = formatted_plan(sketch_ams_f2(spark, sf_dir))
    assert "partial_sum" in plan
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, tree
    assert tree.count("Generate") == 1, tree  # the shingle explode only
    assert len(re.findall(r"Exchange \(\d+\)", tree)) == 2, tree
    assert tree.count("Scan") == 1, tree


def test_pagerank_users_rounds_are_equi_joins(spark, sf_dir):
    """The data-scaled PageRank (VERDICT r6 #3) must run each round as
    a ranks-onto-edges EQUI-join + aggregate — never a driver loop over
    data-sized state or a nested-loop join. Pinned on the untruncated
    lineage (checkpoint_every=0) so all PRU_ITERS rounds are visible."""
    import re

    from catme_etl_j_spark.operators.graph import PRU_ITERS, _pagerank_users_ranks
    from catme_etl_j_spark.plans.explain import formatted_plan

    plan = formatted_plan(_pagerank_users_ranks(spark, sf_dir, checkpoint_every=0))
    # no cartesian product anywhere; the only nested-loop joins are the
    # 1-row broadcast scalar attachments (n/base/r0 spine + audit) —
    # the data-sized per-round joins must all be hash equi-joins
    assert "CartesianProduct" not in plan
    # one ranks-onto-edges equi-join per round (the r11 union-rebase
    # replaced the per-round node LEFT-join with a unioned aggregate)
    hash_joins = len(
        re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    )
    assert hash_joins >= PRU_ITERS
    # per-dst contribution sums keep map-side partial aggregation, and
    # the union-rebase's base pickup is a partial max (not a join)
    assert "partial_sum" in plan
    assert "partial_max" in plan


def test_pagerank_users_shipped_plan_has_no_reexpansion(spark, sf_dir):
    """Convention #12 + VERDICT r9 #1/#2: the SHIPPED pagerank plan
    (a) checkpoints the loop-invariant node set, so no round re-scans
    events (zero parquet scans anywhere in the final plan — the Katz
    discipline), and (b) truncates the final-round ranks, so the audit
    join and the top-k output share one materialization (exactly one
    audit equi-join)."""
    import re

    from catme_etl_j_spark.operators.graph import graph_pagerank_users

    plan = formatted_plan(graph_pagerank_users(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert tree.count("BroadcastNestedLoopJoin") == 1
    assert (
        len(re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", tree))
        == 1
    )


def test_theil_sen_median_avoids_global_window(spark, sf_dir):
    """The ADVICE-r6 rewrite: the median must come from a pid-PARTITIONED
    cumulative-sum window over the range-partitioned slope histogram —
    no global row_number pushing every pairwise slope through one
    partition."""
    from catme_etl_j_spark.operators.stats import stats_theil_sen
    from catme_etl_j_spark.plans.explain import formatted_plan

    plan = formatted_plan(stats_theil_sen(spark, sf_dir))
    assert "row_number" not in plan
    assert "hashpartitioning(pid" in plan
    # the only SinglePartition exchange is the final 1-row aggregate
    assert plan.count("SinglePartition") <= 1


def test_lpa_argmax_is_partial_aggregate_not_window(spark, sf_dir):
    """Each LPA round's argmax must be a map-side-combinable struct-max
    hash aggregate (partial_max), never a windowed row_number sort; the
    per-round label joins stay hash equi-joins. Pinned on the
    untruncated lineage (checkpoint_every=0) so the rounds are
    visible."""
    import re

    from catme_etl_j_spark.operators.graph import graph_lpa_communities
    from catme_etl_j_spark.plans.explain import formatted_plan

    plan = formatted_plan(graph_lpa_communities(spark, sf_dir, checkpoint_every=0))
    assert "partial_max" in plan
    assert "row_number" not in plan
    assert "CartesianProduct" not in plan
    # one 1-row audit-scalar crossJoin only (VERDICT r8 #4)
    assert plan.split("\n\n")[0].count("BroadcastNestedLoopJoin") == 1
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_lpa_shipped_plan_has_no_reexpansion(spark, sf_dir):
    """Convention #12 (VERDICT r9 #1): the SHIPPED LPA plan truncates
    the round-(K-1) and round-K label frames, so neither the audit
    join nor the community count re-expands per-round lineage — the
    final plan is two aggregates + ONE audit equi-join over
    checkpointed RDDs, zero parquet scans."""
    import re

    from catme_etl_j_spark.operators.graph import graph_lpa_communities
    from catme_etl_j_spark.plans.explain import formatted_plan

    plan = formatted_plan(graph_lpa_communities(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert tree.count("BroadcastNestedLoopJoin") == 1
    assert (
        len(re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", tree))
        == 1
    )


def test_feature_asof_single_fused_window(spark, sf_dir):
    """All four trailing frames share (user_id, us) partitioning and
    ordering, so Catalyst must fuse them into ONE Window operator —
    a second Window (or exchange) means the frames stopped sharing
    their sort and the single-shuffle claim is broken."""
    import re

    from catme_etl_j_spark.operators.events import events_feature_asof

    plan = formatted_plan(events_feature_asof(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1
    # window hash exchange + final orderBy range exchange, nothing else
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_bitemporal_one_pruned_scan(spark, sf_dir):
    """The version rows explode from ONE scan of the 90-day slice, and
    the valid-window predicate is pushed to the parquet reader as a
    timestamp range (partition-prunable at scale)."""
    from catme_etl_j_spark.operators.etl import etl_bitemporal_asof

    plan = formatted_plan(etl_bitemporal_asof(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Generate" in tree  # the inline version-array explode
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "o_orderdate" in pushed


def test_late_dim_pushdown_and_broadcast(spark, sf_dir):
    """Cutoff filter reaches the fact scan; the (customer x arrival)
    dim joins broadcast; the 2-row state spine is the only nested-loop
    join."""
    from catme_etl_j_spark.operators.etl import etl_late_arriving_dim

    plan = formatted_plan(etl_late_arriving_dim(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "LessThan(o_orderdate" in plan  # pushed cutoff
    assert tree.count("BroadcastNestedLoopJoin") == 1  # the 2-row spine
    assert "CartesianProduct" not in tree


def test_dsir_checkpointed_single_pass(spark, sf_dir):
    """The compressed (doc, bucket) frame is localCheckpoint'd: both
    the weight aggregation and the scoring join must read the
    materialized frame (Scan ExistingRDD), never re-scan the corpus;
    the 256-row weight table joins broadcast."""
    from catme_etl_j_spark.operators.corpus import corpus_dsir_importance

    plan = formatted_plan(corpus_dsir_importance(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0  # checkpoint feeds both sides
    assert "BroadcastHashJoin" in tree


def test_pca_projection_is_map_only_topk(spark, sf_dir):
    """The returned frame (after the bounded driver-side eigensolve) is
    a map-only projection of the embeddings scan into a per-partition
    top-k merge — no join, no full sort."""
    from catme_etl_j_spark.operators.embed import embed_pca_outliers

    plan = formatted_plan(embed_pca_outliers(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    assert "Join" not in tree
    assert tree.count("Scan parquet") == 1


def test_minmax_pruning_single_fact_scan_plus_bounds(spark, sf_dir):
    """The zone-map accounting reads lineitem exactly twice — the tiny
    2-column bounds aggregate (broadcast) and the ONE posexploded fact
    pass — and both scans are pruned to the two needed columns; the
    128-group aggregate partial-combines before its single exchange."""
    from catme_etl_j_spark.operators.scale import scale_minmax_pruning

    plan = formatted_plan(scale_minmax_pruning(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2
    assert "BroadcastExchange" in tree or "BroadcastNestedLoopJoin" in tree
    assert "Generate" in tree  # the posexplode into both layouts
    assert "ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp_ntz>" in plan
    assert "partial" in plan.lower()  # map-side combine before the exchange


def test_theta_setops_bounded_downstream(spark, sf_dir):
    """Everything after the distinct is bounded: the set-op combine and
    every scalar pivot joins broadcast; no sort-merge join of data-
    sized sides anywhere."""
    from catme_etl_j_spark.operators.sketch import sketch_theta_setops

    plan = formatted_plan(sketch_theta_setops(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "BroadcastExchange" in tree
    assert "Generate" in tree  # the 5-op explode of the scalar row


def test_token_budget_mix_windows_over_aggregate(spark, sf_dir):
    """The corpus scan partial-aggregates to |sources| keys before any
    window runs; the single unpartitioned window therefore sees only
    the bounded aggregate (documented), never document rows."""
    from catme_etl_j_spark.operators.corpus import corpus_token_budget_mix

    plan = formatted_plan(corpus_token_budget_mix(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    # the Window operators sit ABOVE the final HashAggregate in the tree
    # (tree prints top-down: Window lines precede the aggregate lines)
    win = min(i for i, l in enumerate(tree.splitlines()) if "Window" in l)
    agg = max(i for i, l in enumerate(tree.splitlines()) if "HashAggregate" in l)
    assert win < agg


def test_schema_evolution_union_is_narrow(spark, sf_dir):
    """The drift union adds no exchange of its own: the only shuffle is
    the rollup aggregate's, and both version slices scan pruned
    4-column projections."""
    from catme_etl_j_spark.operators.etl import etl_schema_evolution

    plan = formatted_plan(etl_schema_evolution(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "Union" in tree
    assert "Join" not in tree
    # the union sits directly on the scans — no exchange below it; the
    # only shuffles are the aggregate's own (two-phase because of the
    # distinct-priority count: Expand + partial/final) plus the output
    # sort's range exchange
    lines = tree.splitlines()
    union_at = next(i for i, l in enumerate(lines) if "Union" in l)
    assert not any("Exchange" in l for l in lines[union_at:])
    import re

    n_ex = len(re.findall(r"\bExchange\b", tree))
    assert n_ex <= 3, tree


def test_matryoshka_no_parquet_rescans(spark, sf_dir):
    """After the localCheckpoint of the scored frame, the three
    per-dim top-k pulls and the recall joins read the materialized
    frame — zero parquet scans reach the returned plan."""
    from catme_etl_j_spark.operators.similarity import ann_matryoshka_recall

    plan = formatted_plan(ann_matryoshka_recall(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert "TakeOrderedAndProject" in tree


def test_s_core_rounds_are_semi_joins(spark, sf_dir):
    """Every peeling round is alive-set LEFT SEMI equi-joins onto the
    surviving edge list plus a partial-combined strength aggregate —
    no nested-loop join. Pinned on one round's UNtruncated plan
    (checkpoint=False), since the shipped loop checkpoints both
    per-round frames (convention #12) and hides the round shape."""
    from catme_etl_j_spark.operators.graph import _s_core_round, _sym_user_edges

    edges = _sym_user_edges(spark, sf_dir)
    alive, nxt, _obs = _s_core_round(edges, 10, checkpoint=False)
    plan = formatted_plan(nxt)
    assert "NestedLoop" not in plan
    assert "LeftSemi" in plan
    assert "partial_sum" in plan  # strength agg map-side combines


def test_s_core_shipped_plan_has_no_reexpansion(spark, sf_dir):
    """Convention #12 (VERDICT r9 #1): the shipped s-core trajectory
    aggregates ONLY checkpointed per-round frames — zero parquet scans
    and zero shuffle joins in the final plan (each round's strength
    agg + semi-join pass ran exactly once, inside its checkpoint); the
    SCORE_ITERS scalar stat rows attach via broadcast crossJoins."""
    import re

    from catme_etl_j_spark.operators.graph import (
        SCORE_ITERS,
        graph_s_core_peeling,
    )

    plan = formatted_plan(graph_s_core_peeling(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert not re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", tree)
    # one scalar crossJoin per COMPUTED round; rounds past the
    # avalanche fixpoint (alive empty => provably all-zero rows) emit
    # literal 1-row Ranges instead (the r11 early exit), so the count
    # is <= SCORE_ITERS with the literal rounds visible as Range leaves
    n_bnlj = tree.count("BroadcastNestedLoopJoin")
    n_literal = tree.count("Range (")
    assert 1 <= n_bnlj <= SCORE_ITERS
    assert n_bnlj + n_literal == SCORE_ITERS


def test_scd3_single_window_operator(spark, sf_dir):
    """rank, lead, and the per-customer count all evaluate in ONE
    Window operator behind a single hash exchange on o_custkey."""
    from catme_etl_j_spark.operators.etl import etl_scd3_previous_value

    plan = formatted_plan(etl_scd3_previous_value(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert sum(1 for l in tree.splitlines() if "Window" in l and "Sort" not in l) == 1
    assert "Join" not in tree


def test_chunk_manifest_map_only(spark, sf_dir):
    """The manifest derives per-row: one pruned scan, one Generate, no
    join, and the only exchange is the output sort's."""
    import re

    from catme_etl_j_spark.operators.multimodal import multimodal_chunk_manifest

    plan = formatted_plan(multimodal_chunk_manifest(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Generate" in tree
    assert "Join" not in tree
    assert len(re.findall(r"\bExchange\b", tree)) == 1


# ---------- round-8 operators ----------


def test_cc_rounds_are_hash_joins_no_rescans(spark, sf_dir):
    """Every min-label round is an equi hash join of labels onto the
    checkpointed symmetric edge list plus a partial-combined MIN
    aggregate — no nested-loop join (the pagerank_users/LPA loop
    discipline). Pinned on the untruncated lineage
    (checkpoint_every=0) so the rounds are visible."""
    from catme_etl_j_spark.operators.graph import graph_connected_components

    plan = formatted_plan(
        graph_connected_components(spark, sf_dir, checkpoint_every=0)
    )
    tree = plan.split("\n\n")[0]
    # one 1-row audit-scalar crossJoin only (VERDICT r8 #4)
    assert tree.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in tree
    assert "partial_min" in plan


def test_cc_shipped_plan_has_no_reexpansion(spark, sf_dir):
    """Convention #12 (VERDICT r9 #1 — this double reference was the
    r9 +51%): the shipped CC plan truncates the final-round labels, so
    the audit join and the component count both read a checkpointed
    RDD — zero parquet scans, exactly one audit equi-join."""
    import re

    from catme_etl_j_spark.operators.graph import graph_connected_components

    plan = formatted_plan(graph_connected_components(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert tree.count("BroadcastNestedLoopJoin") == 1
    assert (
        len(re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", tree))
        == 1
    )


def test_kmeans_centroids_broadcast(spark, sf_dir):
    """The corpus side must never shuffle against the centroid side.
    Since the r11 driver-side-codebook rewrite the assignment is ONE
    map-only ArrowEvalPython over the packed qarr frame (no join at
    all); the only shuffle left is the K-row per-cluster SSE
    aggregate, which partial-aggregates map-side (plus the K-row
    range-partition Exchange under the output Sort)."""
    import re

    from catme_etl_j_spark.operators.embed import embed_kmeans_sse

    plan = formatted_plan(embed_kmeans_sse(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "MapInPandas" in tree, tree
    assert "Join" not in tree, tree
    assert "CartesianProduct" not in tree
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_purity_centroids_broadcast(spark, sf_dir):
    """Same regime as k-means: label centroids broadcast; the only
    corpus-sized shuffles are the (vec, label) aggregates."""
    from catme_etl_j_spark.operators.embed import embed_nearest_centroid_purity

    plan = formatted_plan(embed_nearest_centroid_purity(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_kmv_jaccard_exact_twin_is_equi_join(spark, sf_dir):
    """The exact-intersection pass self-joins the distinct (source,
    hash) frame on the HASH key (equi hash join); the only
    nested-loop joins are against the bounded |sources|-row pair grid,
    never corpus-sized frames."""
    from catme_etl_j_spark.operators.sketch import sketch_kmv_jaccard

    plan = formatted_plan(sketch_kmv_jaccard(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    # the h-keyed self-join must be a hash join, not BNL
    import re

    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*\bh\b", tree) or (
        "SortMergeJoin" in tree or "ShuffledHashJoin" in tree or "BroadcastHashJoin" in tree
    )


def test_query_likelihood_prunes_then_broadcasts(spark, sf_dir):
    """The matched-delta stream filters to query terms via a BROADCAST
    join before any aggregation, and every term-stat frame (<= |q|
    rows) broadcasts; the per-document length table joins shuffled
    (it scales with the corpus, broadcast would be wrong)."""
    from catme_etl_j_spark.operators.ranking import rank_query_likelihood

    plan = formatted_plan(rank_query_likelihood(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree
    assert "TakeOrderedAndProject" in tree  # top-k, not a global sort


def test_spearman_ranks_join_on_value_key(spark, sf_dir):
    """Both rank tables join back to rows on the fixed-point value key
    as hash joins; the moment aggregate partial-combines; no
    nested-loop anywhere."""
    from catme_etl_j_spark.operators.stats import stats_spearman_corr

    plan = formatted_plan(stats_spearman_corr(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "NestedLoop" not in tree
    assert "CartesianProduct" not in tree
    assert "partial_count" in plan or "partial_sum" in plan


def test_changelog_compaction_single_key_shuffle(spark, sf_dir):
    """Last-writer-wins compacts behind ONE hash exchange on the key:
    the row_number and per-key depth share the partitioning, and no
    join exists in the plan (the naive max-timestamp self-join shape
    is exactly what this pin forbids)."""
    import re

    from catme_etl_j_spark.operators.etl import etl_changelog_compaction

    plan = formatted_plan(etl_changelog_compaction(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    # the key partitioning appears in the plan details, not the tree
    assert "hashpartitioning(k" in plan
    # one key shuffle + the final single-partition aggregate at most
    assert len(re.findall(r"\bExchange\b", tree)) <= 2
    # row_number + full-frame depth FUSE into ONE Window operator on
    # the shared ordered spec (VERDICT r8 #7; the SCD3 precedent)
    assert sum(1 for l in tree.splitlines() if "Window" in l and "Sort" not in l) == 1


def test_payload_entropy_map_side_combine(spark, sf_dir):
    """The (doc, byte) count partial-aggregates map-side (<= 256 rows
    per doc per task reach the shuffle) over a single pruned scan of
    the payload column."""
    from catme_etl_j_spark.operators.multimodal import multimodal_payload_entropy

    plan = formatted_plan(multimodal_payload_entropy(spark, sf_dir))
    assert "partial_count" in plan
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree


def test_drawdown_collapses_before_window(spark, sf_dir):
    """The fact table collapses to |days| rows BEFORE the running-peak
    window: the plan's aggregate sits below the Window, and the top-k
    is TakeOrderedAndProject."""
    from catme_etl_j_spark.operators.relational3 import window_max_drawdown

    plan = formatted_plan(window_max_drawdown(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    lines = tree.splitlines()
    win = min(i for i, l in enumerate(lines) if "Window" in l and "Sort" not in l)
    agg = max(i for i, l in enumerate(lines) if "HashAggregate" in l)
    # top-down tree: the Window consumes the aggregate's output
    assert win < agg


def test_quality_classifier_map_only(spark, sf_dir):
    """The frozen-weight logistic scorer must be ONE map-only
    whole-stage-codegen projection — no shuffle, no join, no window
    anywhere in the plan (the logit is per-row arithmetic)."""
    from catme_etl_j_spark.operators.text import text_quality_classifier

    df = text_quality_classifier(spark, sf_dir)
    plan = formatted_plan(df)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Join" not in tree
    assert "Window" not in tree
    assert "WholeStageCodegen" in formatted_plan(df, mode="codegen")


def test_dedup_paragraphs_one_seg_shuffle(spark, sf_dir):
    """Paragraph dedup: ONE posexplode, one seg-keyed exchange feeding
    a partition-only min-struct Window (single pass over the exploded
    stream — the agg+self-join alternative recomputes the explode on
    both join sides), no nested-loop join anywhere."""
    from catme_etl_j_spark.operators.corpus import corpus_dedup_paragraphs

    plan = formatted_plan(corpus_dedup_paragraphs(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert tree.count("Generate") == 1  # one posexplode only
    assert sum(1 for l in tree.splitlines()
               if "Window" in l and "Sort" not in l) == 1
    assert "hashpartitioning(seg" in plan


def test_bootstrap_resample_is_bounded_and_equi_joined(spark, sf_dir):
    """The bootstrap must resample PRE-AGGREGATED daily stats: the
    B x n index frame equi-joins onto the ranked calendar (no
    cartesian), and the only nested-loop join is the 1-row CI scalar
    attach."""
    from catme_etl_j_spark.operators.stats import stats_bootstrap_ci

    plan = formatted_plan(stats_bootstrap_ci(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert tree.count("BroadcastNestedLoopJoin") <= 1
    assert "partial_sum" in plan  # per-replicate sums combine map-side


def test_compaction_window_is_partition_local(spark, sf_dir):
    """The OPTIMIZE bin-packing window must be PARTITIONED BY part_id —
    never a global single-partition running sum over all file metadata
    (the corpus_pack_sequences lesson)."""
    from catme_etl_j_spark.operators.scale import scale_merge_binpack

    plan = formatted_plan(scale_merge_binpack(spark, sf_dir))
    assert "hashpartitioning(part_id" in plan
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    # the only SinglePartition exchange allowed is the final tiny sort
    assert plan.count("SinglePartition") <= 1


def test_kendall_pairs_on_checkpointed_group_frame(spark, sf_dir):
    """Kendall tau-b: the |nations| metric frame is localCheckpoint'd
    once, so the pair self-join and the n_groups attach re-scan ZERO
    parquet (the lineage would otherwise re-run the customer/orders
    aggregations per reference — Spark's analogue of the oracle-side
    convention-#11 re-expansion). The only nested-loop joins are the
    bounded pair join (group-domain^2) and the 1-row scalar attach."""
    import re

    from catme_etl_j_spark.operators.stats import stats_kendall_tau

    plan = formatted_plan(stats_kendall_tau(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "CartesianProduct" not in plan.split("\n\n")[0]
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2
    assert "partial_sum" in plan  # pair tallies combine map-side


def test_permutation_flips_from_checkpointed_daily(spark, sf_dir):
    """Permutation test: the |days| diff frame is localCheckpoint'd
    once and feeds obs + the K-flip explode + the final attach — zero
    parquet re-scans; per-replicate sums combine map-side on the
    replicate id."""
    import re

    from catme_etl_j_spark.operators.stats import stats_permutation_test

    plan = formatted_plan(stats_permutation_test(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "CartesianProduct" not in plan.split("\n\n")[0]
    assert "partial_sum" in plan


def test_cdc_chunking_single_explode_single_doc_sort(spark, sf_dir):
    """Content-defined chunking: ONE explode; the lag-gram window and
    the chunk-id cumsum share ONE (doc_id, pos) exchange (two Window
    nodes, two exchanges total — the second is the per-fingerprint
    aggregate); no join anywhere; top-k is TakeOrderedAndProject,
    never a global sort."""
    import re

    from catme_etl_j_spark.operators.corpus import corpus_cdc_chunking

    plan = formatted_plan(corpus_cdc_chunking(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "Join" not in tree
    assert "TakeOrderedAndProject" in plan


def test_smart_per_doc_join_not_broadcast(spark, sf_dir):
    """SMART lnc.ltc (the BM25 scale guard applied): the per-DOCUMENT
    norm table grows with the corpus and carries no broadcast hint —
    with auto-broadcast disabled only the hinted bounded sides remain
    (qw and n_docs, each re-expanded once by the shared-lineage
    re-plan: 4 BroadcastExchanges), and the dnorm join runs as a
    shuffle join feeding TakeOrderedAndProject. The (doc, term)
    weight frame is checkpointed (dsir discipline): ZERO tokenize
    explodes survive in the final plan, and the only parquet reads
    are the two column-pruned count-star scans for N."""
    import re

    from catme_etl_j_spark.operators.ranking import rank_smart_lnc_ltc

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = formatted_plan(rank_smart_lnc_ltc(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 4, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan.split("\n\n")[0]
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan


def test_interval_coalesce_windows_share_one_sort(spark, sf_dir):
    """Gaps-and-islands: the running-max-end scan and the island-id
    prefix sum are TWO Window operators over ONE (custkey, s_day,
    orderkey) Sort — a second sort or a self-join would mean the
    classic O(n^2) islands shape crept back in. The island groupBy
    reuses the custkey partitioning (no extra exchange before the
    aggregate)."""
    import re

    from catme_etl_j_spark.operators.etl import etl_interval_coalesce

    plan = formatted_plan(etl_interval_coalesce(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    wins = [i for i, l in enumerate(tree.splitlines()) if re.search(r"\bWindow\b", l)]
    assert len(wins) == 2
    between = tree.splitlines()[wins[0] + 1 : wins[1]]
    assert not any("Sort" in l or "Exchange" in l for l in between), (
        "the two Window ops must share one Sort/Exchange"
    )
    # below the lower Window: exactly one Sort+Exchange pair
    below = tree.splitlines()[wins[1] + 1 :]
    assert sum(1 for l in below if "Sort" in l) == 1
    # island aggregate sits on the window partitioning: no Exchange
    # between the upper Window and the HashAggregates above it
    aggs = [i for i, l in enumerate(tree.splitlines()) if "HashAggregate" in l]
    assert all(
        "Exchange" not in l
        for l in tree.splitlines()[max(a for a in aggs if a < wins[0]) : wins[0]]
    )


def test_bollinger_single_window_single_scan(spark, sf_dir):
    """All three rolling aggregates (n, sum, sum-of-squares) fuse into
    ONE Window operator over the collapsed daily frame; one parquet
    scan of orders feeds everything."""
    import re

    from catme_etl_j_spark.operators.relational3 import window_bollinger_bands

    plan = formatted_plan(window_bollinger_bands(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert sum(1 for l in tree.splitlines() if re.search(r"\bWindow\b", l)) == 1
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree


def test_mutual_information_cell_checkpoint_no_rescan(spark, sf_dir):
    """The orders x customer fact join materializes into the <=|X|*|Y|
    cell checkpoint exactly once: the returned plan (cells + marginals
    + entropies + MI, 4 consumers) reads ONLY the checkpointed frame —
    zero parquet scans — and the scalar frames come back as broadcast
    joins, not shuffles."""
    from catme_etl_j_spark.operators.stats import stats_mutual_information

    plan = formatted_plan(stats_mutual_information(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_kneser_ney_single_corpus_pass(spark, sf_dir):
    """The bigram-TYPE frame is checkpointed: context stats,
    continuation counts, the type total, and the final join all read
    the materialized frame — zero parquet re-scans of documents."""
    from catme_etl_j_spark.operators.text import text_kneser_ney_bigram

    plan = formatted_plan(text_kneser_ney_bigram(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert "CartesianProduct" not in tree


def test_linear_counting_single_distinct_pass(spark, sf_dir):
    """Per-type rows and the '__merged__' union row both read the
    checkpointed distinct (grp, user, bit) frame — zero parquet
    re-scans — and nothing in the plan is a join (the merge is a
    union, not a self-join)."""
    from catme_etl_j_spark.operators.sketch import sketch_linear_counting

    plan = formatted_plan(sketch_linear_counting(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert "Join" not in tree


def test_katz_loop_reads_checkpointed_invariants(spark, sf_dir):
    """Both loop-invariant frames (node set, edge list) are
    materialized once: the final Katz plan contains ZERO parquet scans
    (everything flows from checkpoint RDDs), and the audit scalar
    attaches via a broadcast nested-loop crossJoin, never a
    CartesianProduct."""
    from catme_etl_j_spark.operators.graph import graph_katz_centrality

    import re

    plan = formatted_plan(graph_katz_centrality(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" in tree
    # convention #12 (r10): the final-round frame is truncated, so the
    # only equi-join left in the shipped plan is the audit's — the
    # top-k output and the audit share one materialization
    assert (
        len(re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", tree))
        == 1
    )


def _events_scans_run(spark, build, sf_dir):
    """Output-row counts of the events parquet scans that RAN while
    ``build(spark, sf_dir)`` was built and collected, from the SQL
    status store (a scan whose stage was skipped reports no rows)."""
    sc = spark.sparkContext
    group = f"events-scans-{build.__name__}"
    try:
        sc.setJobGroup(group, group)
        build(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    rows = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.description() != group:
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not (node.name().startswith("Scan parquet") and "events" in node.desc()):
                continue
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                value = values.get(metric.accumulatorId())
                if metric.name() == "number of output rows" and value.isDefined():
                    rows.append(int(value.get().replace(",", "")))
    return rows


@pytest.mark.parametrize(
    "name",
    [
        "graph_pagerank_users",
        "graph_lpa_communities",
        "graph_connected_components",
        "graph_katz_centrality",
    ],
)
def test_user_graph_loops_scan_events_once(spark, sf_dir, name):
    """Edge list and node spine both derive from the one checkpointed
    ``_user_adj`` pass: building and running each user-graph loop
    scans events exactly once, all of it."""
    from catme_etl_j_spark.operators import graph
    from catme_etl_j_spark.sources.tables import load_table

    scans = _events_scans_run(spark, getattr(graph, name), sf_dir)
    assert scans == [load_table(spark, sf_dir, "events").count()]


def test_url_keep_first_map_only_single_aggregate(spark, sf_dir):
    """URL keep-first dedup is ONE pruned scan -> per-row
    canonicalization -> a single map-side-combining hash aggregate on
    the canonical key (partial_min/partial_count) — no join anywhere;
    the only exchanges are the aggregate's hash and the output sort's
    range partitioning."""
    import re

    from catme_etl_j_spark.operators.dedup import dedup_url_keep_first

    plan = formatted_plan(dedup_url_keep_first(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree
    assert "partial_min" in plan and "partial_count" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_doremi_mixture_bounded_aggregate_plan(spark, sf_dir):
    """The DoReMi reweight runs entirely over the |sources|-row
    aggregate: two map-side-combining corpus aggregations (token sums
    and the fingerprint duplicate pre-aggregate), one equi-join on
    source, and no row_number window anywhere — the unpartitioned
    total window runs on the bounded post-aggregate frame only."""
    from catme_etl_j_spark.operators.corpus import corpus_doremi_mixture

    plan = formatted_plan(corpus_doremi_mixture(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") <= 2
    assert "row_number" not in plan
    assert "partial_sum" in plan and "partial_count" in plan
    assert "CartesianProduct" not in tree


# ---------- round-11 operators ----------


def test_semdedup_shipped_plan_shape(spark, sf_dir):
    """dedup_semdedup_prune: every data-sized join is a hash equi-join
    (pool probe on (cluster, salt), final flag left-join) — no
    cartesian/nested-loop pair enumeration — and the whole shipped
    plan reads the checkpointed Lloyd state, zero parquet re-scans."""
    from catme_etl_j_spark.operators.dedup import dedup_semdedup_prune

    plan = formatted_plan(dedup_semdedup_prune(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    import re

    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", tree)


def test_decontaminate_vs_broadcast_probe_and_pushdown(spark, sf_dir):
    """corpus_decontaminate_vs: the eval gram set (the supplied
    benchmark — MBs against a 100 TB train side) joins as the
    BROADCAST side of the overlap probe; the train-side source
    predicate reaches the parquet scan; the corpus gram stream is
    scanned ONCE (one probe + the 1-column doc spine + the eval side =
    exactly 3 scans)."""
    from catme_etl_j_spark.operators.corpus import corpus_decontaminate_vs

    plan = formatted_plan(corpus_decontaminate_vs(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 3
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree
    assert "Not(EqualNullSafe(source,src0))" in plan  # pushed train filter
