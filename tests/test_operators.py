"""Operator correctness spot-checks against the DuckDB oracle.

The exhaustive sweep is tools/selfcheck.py (and the driver's t2 gate);
here a representative query per module keeps `pytest -x -q` fast while
still exercising the full compare (columns, rowcount, values).
"""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from catme_etl_j_spark.sources.tables import TABLES

SPOT = [
    "q01_pricing_summary",
    "q05_local_supplier",
    "q08_nation_share",
    "window_topk_per_group",
    "window_range_frame",
    "q13_order_distribution",
    "q21_waiting_supplier",
    "text_fingerprint",
    "text_gopher_quality",
    "text_lexical_diversity",
    "etl_incremental_agg",
    "text_winnow_fingerprint",
    "text_repetition",
    "corpus_split",
    "corpus_chunk",
    "corpus_pack_sequences",
    "corpus_sample_stratified",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "ann_lsh_hyperplane_pairs",
    "events_sessionize",
    "asof_purchase_view",
    "range_join_price_bands",
    "multimodal_meta",
    "stream_sliding_window",
    "stream_session_window",
]


def test_dedup_embedding_cosine_invariants(spark, sf_dir):
    """Keep-one over cosine-LSH components: every vector appears once,
    reps are component minima (rep_id <= vec_id), and kept marks
    exactly the representatives."""
    from catme_etl_j_spark.operators.similarity import dedup_embedding_cosine
    from catme_etl_j_spark.sources.tables import load_table

    out = dedup_embedding_cosine(spark, sf_dir)
    rows = out.collect()
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vec
    assert all(r["rep_id"] <= r["vec_id"] for r in rows)
    assert all((r["kept"] == 1) == (r["rep_id"] == r["vec_id"]) for r in rows)
    reps = {r["rep_id"] for r in rows}
    kept = {r["vec_id"] for r in rows if r["kept"] == 1}
    assert reps == kept


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


@pytest.mark.slow  # duplicates tools/selfcheck.py's gate — full-suite only
@pytest.mark.parametrize("name", SPOT)
def test_query_matches_oracle(spark, sf_dir, oracle_con, name):
    sdf = entry_mod.queries()[name](spark, sf_dir)
    rel = oracle_con.sql(entry_mod.oracle_sql()[name])
    scols = [c.lower() for c in sdf.columns]
    ocols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(ocols)
    srows = [tuple(r) for r in sdf.collect()]
    orows = rel.fetchall()
    assert len(srows) == len(orows)
    assert _norm(scols, srows) == _norm(ocols, orows)


def test_stream_queries_leave_no_sink_views(spark, sf_dir, oracle_con):
    """The memory-sink drain (``streaming.events.run_to_memory``) leaves
    no temp view in the session, and the frames it returns still match
    their DuckDB twins after the view is gone."""
    streams = ("stream_tumbling_window", "stream_stream_join", "stream_sliding_window")
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    frames = {name: queries[name](spark, sf_dir) for name in streams}

    views = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("streamq_", "convq_"))
    ]
    assert views == []
    for name, sdf in frames.items():
        rel = oracle_con.sql(oracles[name])
        srows = [tuple(r) for r in sdf.collect()]
        orows = rel.fetchall()
        assert srows, name
        assert len(srows) == len(orows), name
        assert _norm(sdf.columns, srows) == _norm(rel.columns, orows), name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "sum_qty" in df.columns


def test_every_query_has_callable_and_alias_contract():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert len(qs) >= 40
    for name in os_:
        assert name in qs, f"oracle {name} has no query"


def test_registry_modules_pair_queries_with_oracles():
    """Each registered module names the same queries in QUERIES and
    ORACLES, and no name is registered by two modules (the later one
    would silently replace the earlier entry in queries())."""
    owner: dict[str, str] = {}
    for mod in entry_mod._modules():
        assert set(mod.QUERIES) == set(mod.ORACLES), mod.__name__
        for name in mod.QUERIES:
            assert name not in owner, (name, owner.get(name), mod.__name__)
            owner[name] = mod.__name__
    assert len(owner) == len(entry_mod.queries())


def test_no_oracle_emits_hugeint(oracle_con):
    """Convention #5 tripwire: DuckDB SUM(int*)→HUGEINT repr()s like a
    Python int, so it passes value comparison locally yet hash-fails at
    the driver (both r4 gate fails). Every oracle must emit only
    driver-hashable types."""
    bad = []
    for name, sql in entry_mod.oracle_sql().items():
        rel = oracle_con.sql(sql)
        hits = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                if "HUGEINT" in str(t).upper()]
        if hits:
            bad.append((name, hits))
    assert not bad, f"uncast HUGEINT oracle columns: {bad}"


def test_hugeint_tripwire_detects_uncast_sum(oracle_con):
    rel = oracle_con.sql(
        "SELECT n_regionkey, SUM(n_nationkey) AS s FROM nation GROUP BY 1")
    assert any("HUGEINT" in str(t).upper() for t in rel.types)


def test_minhash_band_knob_validated(spark, sf_dir):
    import pytest

    from catme_etl_j_spark.operators.dedup import minhash_lsh_candidates

    with pytest.raises(ValueError, match="NUM_PERM"):
        minhash_lsh_candidates(spark, sf_dir, bands=16, rows_per_band=4)
    # stricter banding (8 rows/band) must not produce MORE candidates
    loose = minhash_lsh_candidates(spark, sf_dir, bands=8, rows_per_band=4).count()
    strict = minhash_lsh_candidates(spark, sf_dir, bands=4, rows_per_band=8).count()
    assert strict <= loose


def _closures(spark, nodes, mh, monkeypatch):
    """(doc_id, rep_id) sets of the bucket-star closure and of the
    candidate-pair closure over the same signature frame, plus the
    rounds the star closure ran."""
    from catme_etl_j_spark.operators import dedup
    from catme_etl_j_spark.plans.iterate import iterate

    rounds = []

    def counting(state, step, *args, **kwargs):
        def counted(df, k):
            rounds.append(k)
            return step(df, k)

        return iterate(state, counted, *args, **kwargs)

    monkeypatch.setattr(dedup, "iterate", counting)
    star = set(dedup._connected_components(nodes, dedup._bucket_star_edges(mh)).collect())
    n_rounds = max(rounds)
    monkeypatch.undo()
    pairs = dedup.minhash_lsh_candidates(spark, None, mh=mh)
    return star, set(dedup._connected_components(nodes, pairs).collect()), n_rounds


def test_bucket_star_closure_matches_pair_closure(spark, sf_dir, monkeypatch):
    """Each LSH bucket is a clique of candidate pairs, so joining every
    member to the bucket minimum must give the same components as the
    all-pairs band self-join: on the fixture corpus, and on a synthetic
    signature frame with a 200-doc hot bucket, two chains bridged
    across bands (deep enough to need a second closure round) and
    documents with no signature row (which must stay singletons)."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.operators.dedup import BANDS, NUM_PERM, ROWS_PER_BAND, _minhash_df
    from catme_etl_j_spark.sources.tables import load_table

    mh = _minhash_df(spark, sf_dir).cache()
    nodes = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("nid"))
    star, pair, _ = _closures(spark, nodes, mh, monkeypatch)
    assert star == pair
    assert any(nid != rep for nid, rep in star)  # the corpus has near-dups

    # bucket tokens per (doc, band); docs sharing a token share a bucket
    hot = list(range(1000, 1200))
    chain_a = list(range(100, 106))
    chain_b = list(range(200, 206))
    orphans = [5000, 5001, 5002]
    docs = hot + chain_a + chain_b
    token = {(d, j): (d, j) for d in docs for j in range(BANDS)}
    for d in hot:
        token[d, 0] = "hot"
    for chain in (chain_a, chain_b):
        for i, (x, y) in enumerate(zip(chain, chain[1:])):
            j = 1 + i % (BANDS - 1)  # consecutive links use different bands
            token[x, j] = token[y, j] = (x, y)
    token[chain_a[-1], 0] = token[chain_b[-1], 0] = "bridge"
    ids = {t: n for n, t in enumerate(dict.fromkeys(token.values()))}
    rows = [
        [d] + [ids[token[d, k // ROWS_PER_BAND]] * 10 + k % ROWS_PER_BAND
               for k in range(NUM_PERM)]
        for d in docs
    ]
    schema = ", ".join(["doc_id bigint"] + [f"m{i} bigint" for i in range(NUM_PERM)])
    mh = spark.createDataFrame(rows, schema)
    nodes = spark.createDataFrame([(d,) for d in docs + orphans], "nid bigint")
    star, pair, n_rounds = _closures(spark, nodes, mh, monkeypatch)
    assert star == pair
    assert n_rounds >= 2
    reps = dict(star)
    assert {reps[d] for d in hot} == {hot[0]}
    assert {reps[d] for d in chain_a + chain_b} == {chain_a[0]}
    assert all(reps[d] == d for d in orphans)


def _minhash_df_expr(spark, sf_dir):
    """The pre-r12 expression pipeline (explode + HOF shingles + JVM
    md5 + 32 min-aggs), the equivalence witness for the Arrow path."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.operators.dedup import (
        MERSENNE_P, NUM_PERM, PERM_A, PERM_B, _shingled)

    h = _shingled(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT)").alias("h"),
    )
    aggs = [
        F.min((F.lit(PERM_A[i]) * F.col("h") + F.lit(PERM_B[i])) % F.lit(MERSENNE_P)).alias(f"m{i}")
        for i in range(NUM_PERM)
    ]
    return h.groupBy("doc_id").agg(*aggs)


def test_minhash_arrow_matches_expression_pipeline(spark, sf_dir):
    """r12: the map-only Arrow minhash pass (_minhash_rows_pandas) must
    be row-identical to the expression pipeline it replaced (explode +
    HOF shingles + JVM md5 + 32 min-aggs) — exceptAll both ways empty,
    so the portable-hash definition the oracles encode can never drift."""
    from catme_etl_j_spark.operators.dedup import _minhash_df

    new = _minhash_df(spark, sf_dir)
    old = _minhash_df_expr(spark, sf_dir)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_incremental_agg_totals(spark, sf_dir):
    """The history+delta merge must account for every order exactly once."""
    from catme_etl_j_spark.operators.etl import etl_incremental_agg
    from catme_etl_j_spark.sources.tables import load_table

    rows = etl_incremental_agg(spark, sf_dir).collect()
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    assert all(r["min_price"] <= r["max_price"] for r in rows)


def test_lexical_diversity_invariants(spark, sf_dir):
    from catme_etl_j_spark.operators.text import text_lexical_diversity

    rows = text_lexical_diversity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_hapax"] <= r["n_types"] <= r["n_tokens"]
        assert 0 < r["ttr"] <= 1.0
        assert 0 <= r["hapax_ratio"] <= 1.0


def test_funnel_monotone(spark, sf_dir):
    """Funnel counts must be non-increasing with depth; conversion of
    step 1 is exactly 100%."""
    from catme_etl_j_spark.operators.events import events_funnel

    rows = sorted(events_funnel(spark, sf_dir).collect(), key=lambda r: r["step"])
    assert [r["step"] for r in rows] == [1, 2, 3]
    assert rows[0]["conv_pct"] == 100.0
    assert rows[0]["n_users"] >= rows[1]["n_users"] >= rows[2]["n_users"]


def test_retention_offsets(spark, sf_dir):
    """Offset 0 is full retention by construction; later offsets never
    exceed the cohort size."""
    from catme_etl_j_spark.operators.events import events_retention

    rows = events_retention(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["week_offset"] >= 0
        assert 0 < r["n_active"] <= r["cohort_size"]
        if r["week_offset"] == 0:
            assert r["n_active"] == r["cohort_size"]
            assert r["retention_pct"] == 100.0


def test_pq_topk_matches_adc_ordering(spark, sf_dir):
    """PQ/ADC invariants: exactly TOP_K rows, non-negative exact-int
    distances, ascending with vec_id tie-break, query excluded."""
    from catme_etl_j_spark.operators.similarity import TOP_K, QUERY_VEC_ID, ann_pq_topk

    rows = ann_pq_topk(spark, sf_dir).collect()
    assert len(rows) == TOP_K
    assert all(r["adist"] >= 0 for r in rows)
    assert all(r["vec_id"] != QUERY_VEC_ID for r in rows)
    keys = [(r["adist"], r["vec_id"]) for r in rows]
    assert keys == sorted(keys)


def test_transition_matrix_probabilities(spark, sf_dir):
    """Per-src probabilities sum to ~1 (rdet rounding only) and every
    transition count is positive."""
    from collections import defaultdict

    from catme_etl_j_spark.operators.events import events_transition_matrix

    rows = events_transition_matrix(spark, sf_dir).collect()
    assert rows
    by_src = defaultdict(float)
    for r in rows:
        assert r["n"] > 0
        # p is rdet-rounded to 4 decimals; a sub-0.00005 share rounds to 0.0
        assert 0 <= r["p"] <= 1.0
        by_src[r["src_type"]] += r["p"]
    for src, total in by_src.items():
        assert abs(total - 1.0) < 0.01, (src, total)


def test_resample_locf_grid_complete(spark, sf_dir):
    """Every user's day grid is contiguous, gap days carry the last
    value forward, and per-day counts add back to the event total."""
    from collections import defaultdict

    from catme_etl_j_spark.operators.events import events_resample_locf
    from catme_etl_j_spark.sources.tables import load_table

    rows = events_resample_locf(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == n_events
    days = defaultdict(list)
    for r in rows:
        days[r["user_id"]].append(r["day"])
        assert r["locf_value"] is not None  # LOCF never leaves a hole
    for u, ds in days.items():
        ds.sort()
        assert ds == list(range(ds[0], ds[-1] + 1)), u


def test_bigram_lm_scores_negative(spark, sf_dir):
    """Smoothed log-probs are strictly negative; bigram counts match
    the document's token count - 1 for multi-word docs."""
    from catme_etl_j_spark.operators.text import text_bigram_lm_score, text_token_count

    lm = {r["doc_id"]: r for r in text_bigram_lm_score(spark, sf_dir).collect()}
    assert lm
    toks = {r["doc_id"]: r["n_ws_tokens"] for r in text_token_count(spark, sf_dir).collect()}
    for doc_id, r in lm.items():
        assert r["avg_logprob"] < 0
        assert r["n_bigrams"] == toks[doc_id] - 1


def test_temperature_sampling_rebalances(spark, sf_dir):
    """T=0.5 sampling keeps rare languages at a HIGHER rate than
    common ones (that's the point), targets are met exactly, and the
    total stays within the half-corpus budget."""
    from catme_etl_j_spark.operators.corpus import corpus_sample_temperature
    from catme_etl_j_spark.sources.tables import load_table

    rows = corpus_sample_temperature(spark, sf_dir).collect()
    assert rows
    total_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_sampled"] for r in rows) <= total_docs // 2
    for r in rows:
        assert r["n_sampled"] == r["target_n"] <= r["n_docs"]
    rates = {r["lang"]: r["n_sampled"] / r["n_docs"] for r in rows}
    sizes = {r["lang"]: r["n_docs"] for r in rows}
    if len(sizes) > 1:
        smallest = min(sizes, key=sizes.get)
        largest = max(sizes, key=sizes.get)
        if sizes[smallest] < sizes[largest]:
            assert rates[smallest] >= rates[largest]


def test_hll_merge_equals_direct_global(spark, sf_dir):
    """Mergeability: per-bucket MAX over per-group registers must give
    EXACTLY the estimate a direct global sketch (no grouping) produces —
    asserted by recomputing the direct sketch through the same estimator
    — and every estimate lands within HLL's expected error of exact."""
    import pyspark.sql.functions as F

    from catme_etl_j_spark.operators.sketch import (
        MERGED_KEY,
        _hll_estimate,
        _rho_case,
        sketch_hll_merge_groups,
    )
    from catme_etl_j_spark.sources.tables import load_table

    rows = {r["grp"]: r for r in sketch_hll_merge_groups(spark, sf_dir).collect()}
    assert MERGED_KEY in rows and len(rows) > 1
    for r in rows.values():
        assert abs(r["hll_estimate"] - r["n_exact"]) <= max(5, 0.1 * r["n_exact"]), r
    # the merged row covers the union, so it's at least each group's exact
    assert rows[MERGED_KEY]["n_exact"] >= max(
        r["n_exact"] for g, r in rows.items() if g != MERGED_KEY
    )
    # the exact-merge property: direct global registers (no grouping)
    # must yield the identical estimate as the merged per-group registers
    direct_regs = (
        load_table(spark, sf_dir, "orders")
        .select(F.md5(F.col("o_custkey").cast("string")).alias("h"))
        .select(
            F.lit("all").alias("k"),
            F.expr("CAST(conv(substr(h, 13, 3), 16, 10) AS INT)").alias("bucket"),
            F.expr(_rho_case("substr(h, 1, 12)")).alias("rho"),
        )
        .groupBy("k", "bucket")
        .agg(F.max("rho").alias("mr"))
    )
    direct = _hll_estimate(direct_regs, "k").collect()[0]["hll_estimate"]
    assert rows[MERGED_KEY]["hll_estimate"] == direct


def test_triangle_count_invariants(spark, sf_dir):
    """Every nation appears once; the corner-sum is divisible by 3
    (each triangle contributes exactly 3 corners)."""
    from catme_etl_j_spark.operators.graph import graph_triangle_count

    rows = graph_triangle_count(spark, sf_dir).collect()
    assert len(rows) == 25
    total_corners = sum(r["n_triangles"] for r in rows)
    assert total_corners % 3 == 0
    assert total_corners > 0  # the trade graph is dense enough to close triangles


def test_top_paths_counts(spark, sf_dir):
    """Path user-counts sum to at most the number of users; every path
    has at most 3 steps."""
    from catme_etl_j_spark.operators.events import events_top_paths
    from catme_etl_j_spark.sources.tables import load_table

    rows = events_top_paths(spark, sf_dir).collect()
    assert rows
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) <= n_users
    for r in rows:
        assert 1 <= len(r["path"].split(">")) <= 3


def test_dq_profile_exactness(spark, sf_dir):
    """Profile rows must agree with directly-computed column facts."""
    from catme_etl_j_spark.operators.etl import etl_dq_profile
    from catme_etl_j_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    rows = {r["col_name"]: r for r in etl_dq_profile(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    }
    for r in rows.values():
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
        assert 1 <= r["n_distinct"] <= n
        assert r["min_val"] <= r["max_val"] or r["col_name"] == "o_totalprice"
    assert rows["o_orderkey"]["n_distinct"] == n  # primary key
    d = orders.agg(F.countDistinct("o_orderstatus")).collect()[0][0]
    assert rows["o_orderstatus"]["n_distinct"] == d


def test_decontaminate_covers_eval_split(spark, sf_dir):
    """One row per eval doc; contaminated implies at least one shared
    gram; n_contaminated never exceeds the doc's own gram count."""
    from catme_etl_j_spark.operators.corpus import corpus_decontaminate, corpus_split

    rows = corpus_decontaminate(spark, sf_dir).collect()
    split = {r["split"]: r["n_docs"] for r in corpus_split(spark, sf_dir).collect()}
    assert len(rows) == split.get("eval", 0)
    for r in rows:
        assert 0 <= r["n_contaminated"] <= r["n_grams"]
        assert (r["contaminated"] == 1) == (r["n_contaminated"] > 0)


def _driver_witnessed() -> set:
    """Query names with >=1 driver-green row across committed
    CORRECTNESS_r*.json artifacts (same criterion as tools/witness.py)."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        for name, rec in json.load(open(path)).items():
            if (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match", True)
                and not rec.get("err")
            ):
                out.add(name)
    return out


_FAMILY_PREFIXES = (
    "convert_", "stream_", "dedup_", "ann_", "text_", "corpus_",
    "rank_", "etl_", "graph_", "embed_", "events_", "asof_",
    "range_", "multimodal_", "sketch_", "window_", "unpivot_",
    "lateral_", "fn_", "scale_", "stats_", "q1", "q2",
)


def _fam(name: str) -> str:
    for fam in _FAMILY_PREFIXES:
        if name.startswith(fam):
            return fam
    return "other"


def test_driver_window_covers_every_family():
    """The driver's correctness gate records only the FIRST 50 queries()
    entries. Evolved guard (round 7): a family may rotate fully OUT of
    the window only when every member already has a driver-green row in
    a committed CORRECTNESS artifact; a family that still has
    never-witnessed members must hold >=1 slot, and that slot must be
    spent on a never-witnessed member (never a repeat while backlog
    remains). Keeps the original round-3 protection — no silent family
    eviction — without forcing witnessed repeats that would delay the
    evidence burn-down (VERDICT r6 #1)."""
    import __spark_entry__ as m

    names = list(m.queries())[:50]
    oracles = m.oracle_sql()
    assert names == list(m._PRIORITY), "priority block must lead iteration order"
    assert all(n in oracles for n in names), "window entries must be hash-checked"

    witnessed = _driver_witnessed()
    backlog_by_fam: dict = {}
    for q in m.queries():
        if q not in witnessed:
            backlog_by_fam.setdefault(_fam(q), []).append(q)
    window = set(names)
    for fam, members in backlog_by_fam.items():
        assert window & set(members), (
            f"family {fam!r} has never-witnessed members {members} but no "
            f"window slot spent on any of them"
        )


@pytest.mark.slow
def test_no_structural_output_columns(spark):
    """Schema policy (VERDICT r7 #1): the driver's pandas canonicalizer
    (sort_values) cannot sort array/map/struct cells — r7's
    rank_postings was the registry's only non-scalar output and errored
    at the gate despite passing the repr()-based local check. Build
    every registered query's DataFrame at sf0.001 and assert its output
    schema is all-scalar, so the next structural output is caught
    before the driver sees it."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as m

    offenders = []
    for name, fn in m.queries().items():
        try:
            schema = fn(spark, "/root/testdata/sf0.001").schema
        except Exception as e:  # build errors are other tests' business
            offenders.append(f"{name}: build error {e!r:.120}")
            continue
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, (
        "queries() entries with non-scalar (driver-unsortable) output "
        f"columns or build errors: {offenders}"
    )


def test_selfcheck_rejects_array_column(spark):
    """Regression fixture for the local-gate hardening (VERDICT r7 #4):
    tools/selfcheck.py's driver-canon parity check must flag the
    array-typed library variant of rank_postings — exactly the shape
    that passed the old repr()-based local gate and then errored at the
    driver — while passing the gated scalar form."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "selfcheck_mod", os.path.join(repo, "tools", "selfcheck.py")
    )
    sc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sc)

    from catme_etl_j_spark.operators.ranking import (
        rank_postings,
        rank_postings_array,
    )

    arr = rank_postings_array(spark, "/root/testdata/sf0.001").schema
    assert sc.nonscalar_cols(arr) == ["postings:array<bigint>"]
    gated = rank_postings(spark, "/root/testdata/sf0.001").schema
    assert sc.nonscalar_cols(gated) == []


def test_new_queries_witnessed_in_birth_round():
    """Pinned invariant (VERDICT r6 #2): every queries() name not in the
    previous round's committed registry snapshot must appear in the
    driver's 50-entry gate window, so new operators are driver-witnessed
    in the round that introduced them. tools/registry_prev_round.txt is
    regenerated at each round close."""
    import os

    import __spark_entry__ as m

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = set(
        open(os.path.join(repo, "tools", "registry_prev_round.txt"))
        .read()
        .split()
    )
    cur = set(m.queries())
    newborn = cur - prev
    window = set(list(m.queries())[:50])
    stranded = sorted(newborn - window)
    assert not stranded, (
        f"new-this-round queries missing from the gate window: {stranded}"
    )


def test_registry_keeps_every_prev_round_query():
    """The registry fails loudly: _modules() re-raises ImportError, and
    no name in the previous round's snapshot may vanish from queries()
    (a silently dropped operator family would otherwise pass every
    other registry check)."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "tools", "registry_prev_round.txt")) as f:
        prev = set(f.read().split())
    missing = sorted(prev - set(entry_mod.queries()))
    assert not missing, f"queries() lost registered names: {missing}"


def _rows_digest(df) -> str:
    """Order-insensitive digest of a query's columns and rows."""
    import hashlib

    norm = _norm(df.columns, [tuple(r) for r in df.collect()])
    return hashlib.sha256(repr((sorted(df.columns), norm)).encode()).hexdigest()


@pytest.mark.slow
def test_registry_window_non_utc_session_and_threads(spark, sf_dir):
    """The registry owns the query-session policy (session.QUERY_CONF):
    the 50-entry gate window, run from 8 threads in ONE session whose
    zone was set to America/New_York, hashes exactly like a serial run
    in the default UTC session. graph_pagerank_users (a lag window
    partitioned by epoch day of the zone-cast events.ts) built UNwrapped
    under New York hashes differently, so a missing policy is visible."""
    from concurrent.futures import ThreadPoolExecutor

    qs = entry_mod.queries()
    window = list(qs)[:50]
    zone_key = "spark.sql.session.timeZone"

    def run(name: str) -> str:
        return _rows_digest(qs[name](spark, sf_dir))

    try:
        serial = {n: run(n) for n in window}

        spark.conf.set(zone_key, "America/New_York")
        with ThreadPoolExecutor(max_workers=8) as pool:
            threaded = dict(zip(window, pool.map(run, window)))
        assert [n for n in window if threaded[n] != serial[n]] == []

        probe = "graph_pagerank_users"
        assert probe in window
        spark.conf.set(zone_key, "America/New_York")  # the wrappers re-pinned UTC
        assert _rows_digest(qs[probe].__wrapped__(spark, sf_dir)) != serial[probe]
    finally:
        spark.conf.set(zone_key, "UTC")


def test_convert_fixture_builds_from_threads(sf_dir, tmp_path):
    """Eight threads building one fresh convert fixture at once all
    return one valid workbook (a shared DuckDB default connection
    deadlocked here, GIL held, so the build runs in a child process
    with a timeout; a shared temp name could interleave writes)."""
    import glob
    import os
    import subprocess
    import sys
    import zipfile

    src = tmp_path / f"sf_threads_{os.getpid()}"
    src.symlink_to(sf_dir)
    build = (
        "import sys, threading\n"
        "from catme_etl_j_spark.operators import convertq\n"
        "paths = []\n"
        "ts = [threading.Thread(target=lambda: paths.append(convertq._fixture(sys.argv[1])))\n"
        "      for _ in range(8)]\n"
        "for t in ts: t.start()\n"
        "for t in ts: t.join()\n"
        "print(len(paths), *set(paths))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            [sys.executable, "-c", build, str(src)],
            cwd=repo, capture_output=True, text=True, timeout=120, check=True,
        ).stdout.split()
        assert out[0] == "8" and len(out) == 2
        assert zipfile.ZipFile(out[1]).testzip() is None
        assert glob.glob(f"{out[1]}.*") == []
    finally:
        for p in glob.glob(f"/tmp/catme_convq_{src.name}_*"):
            os.remove(p)


def test_minhash_keep_best_picks_longest(spark, sf_dir):
    """Exactly one kept doc per cluster, and it is the longest member
    (doc_id tie-break); cluster membership matches dedup_minhash_keep."""
    from catme_etl_j_spark.operators.dedup import (
        dedup_minhash_keep,
        dedup_minhash_keep_best,
    )

    best = dedup_minhash_keep_best(spark, sf_dir).collect()
    keep = {r["doc_id"]: r["rep_id"] for r in dedup_minhash_keep(spark, sf_dir).collect()}
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert {r["doc_id"]: r["cluster_id"] for r in best} == keep
    by_cluster: dict = {}
    for r in best:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        kept = [r for r in members if r["kept"] == 1]
        assert len(kept) == 1
        want = min(members, key=lambda r: (-docs[r["doc_id"]], r["doc_id"]))
        assert kept[0]["doc_id"] == want["doc_id"]


def test_source_cap_bounds_and_ranks(spark, sf_dir):
    """No source exceeds the cap; ranks are contiguous from 1 and follow
    the (n_chars DESC, doc_id ASC) order."""
    from catme_etl_j_spark.operators.corpus import SOURCE_CAP, corpus_source_cap

    rows = corpus_source_cap(spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for members in by_src.values():
        members.sort(key=lambda r: r["source_rank"])
        assert len(members) <= SOURCE_CAP
        assert [r["source_rank"] for r in members] == list(range(1, len(members) + 1))
        keys = [(-r["n_chars"], r["doc_id"]) for r in members]
        assert keys == sorted(keys)


def test_quality_tiers_partition_evenly(spark, sf_dir):
    """Each source splits into tiers 1..4 whose sizes differ by at most
    one and whose char ranges are non-overlapping in tier order."""
    from catme_etl_j_spark.operators.text import N_TIERS, text_quality_tiers

    rows = text_quality_tiers(spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for members in by_src.values():
        members.sort(key=lambda r: r["tier"])
        assert [r["tier"] for r in members] == list(range(1, N_TIERS + 1))
        sizes = [r["n_docs"] for r in members]
        assert max(sizes) - min(sizes) <= 1
        for lo, hi in zip(members, members[1:]):
            # tier 1 holds the longest docs; ranges may touch at ties
            assert lo["min_chars"] >= hi["max_chars"] - 0  # non-increasing
            assert lo["min_chars"] >= hi["min_chars"]


def test_bigram_topk_shape(spark, sf_dir):
    """20 rows, descending counts, deterministic tie order."""
    from catme_etl_j_spark.operators.corpus import corpus_bigram_topk

    rows = corpus_bigram_topk(spark, sf_dir).collect()
    assert len(rows) == 20
    keys = [(-r["n"], r["bigram"]) for r in rows]
    assert keys == sorted(keys)
    assert all(r["n"] >= 1 and " " in r["bigram"] for r in rows)


def test_unpivot_is_pivot_inverse(spark, sf_dir):
    """unpivot(pivot(x)) carries exactly 3 rows per priority and matches
    the direct long-form conditional aggregation."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.functions.numeric import dec2, money2
    from catme_etl_j_spark.operators.relational3 import unpivot_order_status
    from catme_etl_j_spark.sources.tables import load_table

    got = {
        (r["o_orderpriority"], r["status"]): r["sum_price"]
        for r in unpivot_order_status(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    name = {"O": "sum_open", "F": "sum_finished", "P": "sum_pending"}
    direct = (
        orders.groupBy("o_orderpriority", "o_orderstatus")
        .agg(money2(F.sum(dec2("o_totalprice"))).alias("s"))
        .collect()
    )
    prios = {r["o_orderpriority"] for r in direct}
    assert len(got) == 3 * len(prios)
    for r in direct:
        assert got[(r["o_orderpriority"], name[r["o_orderstatus"]])] == r["s"]


def test_lateral_matches_window_top2(spark, sf_dir):
    """The LATERAL per-nation top-2 equals the window-function rewrite."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from catme_etl_j_spark.operators.relational3 import lateral_top2_customers
    from catme_etl_j_spark.sources.tables import load_table

    got = {tuple(r) for r in lateral_top2_customers(spark, sf_dir).collect()}
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    want = {
        tuple(r)
        for r in c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", "c_custkey", "c_acctbal")
        .collect()
    }
    assert got == want


def test_ivf_recall_bounds(spark, sf_dir):
    """Recall is n_overlap/k with 0 <= n_overlap <= k."""
    from catme_etl_j_spark.operators.similarity import TOP_K, ann_ivf_recall

    r = ann_ivf_recall(spark, sf_dir).collect()[0]
    assert r["k"] == TOP_K
    assert 0 <= r["n_overlap"] <= TOP_K
    assert abs(r["recall_at_k"] - round(r["n_overlap"] / TOP_K, 4)) < 1e-9


def test_e2e_funnel_is_monotone(spark, sf_dir):
    """Each pipeline stage can only shrink the corpus, totals match the
    standalone stage operators, and every source appears."""
    from catme_etl_j_spark.operators.corpus import (
        corpus_clean_pipeline,
        corpus_e2e_funnel,
    )
    from catme_etl_j_spark.sources.tables import load_table

    rows = corpus_e2e_funnel(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert {r["source"] for r in rows} == {
        r["source"] for r in docs.select("source").distinct().collect()
    }
    for r in rows:
        assert r["n_raw"] >= r["n_quality"] >= r["n_unique"] >= r["n_train"] >= r["n_final"] >= 0
    assert sum(r["n_raw"] for r in rows) == docs.count()
    # dedup survivors across sources == clean-pipeline output rows
    # (same scrub/threshold/fingerprint chain)
    assert sum(r["n_unique"] for r in rows) == corpus_clean_pipeline(spark, sf_dir).count()


def test_minhash_precision_estimates_track_exact(spark, sf_dir):
    """Every LSH candidate gets an exact score; est and exact are in
    [0,1]; abs_err is their difference; high-exact pairs (>=0.7, the
    repo threshold) are estimated within 0.35 (32 perms, 3-sigma)."""
    from catme_etl_j_spark.operators.dedup import dedup_minhash_precision

    rows = dedup_minhash_precision(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["exact_jaccard"])) < 1e-12
        if r["exact_jaccard"] >= 0.7:
            assert r["abs_err"] <= 0.35


def test_char_entropy_bounds(spark, sf_dir):
    """0 <= H <= log2(distinct chars), and a single-char doc scores 0."""
    import math

    from catme_etl_j_spark.operators.text import text_char_entropy

    rows = text_char_entropy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_distinct_chars"] >= 1
        hi = math.log2(r["n_distinct_chars"]) if r["n_distinct_chars"] > 1 else 0.0
        assert -1e-4 <= r["entropy_bits"] <= hi + 1e-4


def test_rfm_scores_consistent(spark, sf_dir):
    """Scores are 1..4, segment derives from (r,f) scores, and per-user
    counts sum to the event total."""
    from catme_etl_j_spark.operators.events import events_rfm_segments
    from catme_etl_j_spark.sources.tables import load_table

    rows = events_rfm_segments(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == total
    for r in rows:
        for c in ("r_score", "f_score", "m_score"):
            assert 1 <= r[c] <= 4
        if r["r_score"] >= 3 and r["f_score"] >= 3:
            assert r["segment"] == "champion"
        elif r["r_score"] >= 3:
            assert r["segment"] == "recent"
        elif r["f_score"] >= 3:
            assert r["segment"] == "loyal_lapsing"
        else:
            assert r["segment"] == "at_risk"


def test_ngram_novelty_bounds_and_df1(spark, sf_dir):
    """novelty in [0,1]; n_unique <= n_grams; a doc whose grams are all
    df==1 scores exactly 1.0 (checked via reconstruction)."""
    from catme_etl_j_spark.operators.text import text_ngram_novelty

    rows = text_ngram_novelty(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_unique"] <= r["n_grams"]
        import math

        want = math.floor(r["n_unique"] / r["n_grams"] * 1e4 + 0.5) / 1e4
        assert abs(r["novelty"] - want) < 1e-9


def test_power_users_monotone(spark, sf_dir):
    """Higher event share needs at least as many users; shares and user
    percents are consistent; covering 99% never exceeds the user base."""
    from catme_etl_j_spark.operators.events import events_power_users
    from catme_etl_j_spark.sources.tables import load_table

    rows = sorted(events_power_users(spark, sf_dir).collect(), key=lambda r: r["pct_events"])
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    prev = 0
    for r in rows:
        assert r["n_top_users"] >= prev
        prev = r["n_top_users"]
        assert 1 <= r["n_top_users"] <= n_users
        assert abs(r["pct_users"] - round(r["n_top_users"] / n_users * 100, 2)) < 0.011


def test_twap_within_value_range(spark, sf_dir):
    """TWAP lies within [min cents, max cents]/100 of the user's
    interval-opening values, and single-event users are excluded."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.operators.events import events_twap
    from catme_etl_j_spark.sources.tables import load_table

    rows = {r["user_id"]: r for r in events_twap(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    )
    for u in per_user:
        if u["n"] >= 2:
            r = rows[u["user_id"]]
            assert u["lo"] - 0.01 <= r["twap"] <= u["hi"] + 0.01
            assert r["n_events"] == u["n"]
        else:
            assert u["user_id"] not in rows


def test_pipeline_api_matches_e2e_funnel(spark, sf_dir):
    """The fluent CorpusPipeline compiles to the same semantics the
    gated corpus_e2e_funnel hash-checks: stage-by-stage per-source
    counts agree exactly."""
    from catme_etl_j_spark.pipelines import CorpusPipeline
    from catme_etl_j_spark.operators.corpus import corpus_e2e_funnel

    funnel = {r["source"]: r for r in corpus_e2e_funnel(spark, sf_dir).collect()}

    base = CorpusPipeline(spark, sf_dir).scrub_pii()
    quality = base.quality_filter(min_words=20)
    unique = quality.dedup_normalized().materialize()
    train = unique.split().decontaminate()

    q_counts = {r["source"]: r["n_docs"] for r in quality.funnel().collect()}
    u_counts = {r["source"]: r["n_docs"] for r in unique.funnel().collect()}
    f_counts = {
        r["source"]: r["n_docs"]
        for r in train.train()
        .groupBy("source")
        .count()
        .withColumnRenamed("count", "n_docs")
        .collect()
    }
    for src, f in funnel.items():
        assert q_counts.get(src, 0) == f["n_quality"]
        assert u_counts.get(src, 0) == f["n_unique"]
        assert f_counts.get(src, 0) == f["n_final"]


def test_asof_next_view_strictly_after(spark, sf_dir):
    """Every matched view timestamp is strictly greater than the
    purchase's, and it is the user's earliest such view."""
    from collections import defaultdict

    from catme_etl_j_spark.operators.asof import asof_next_view
    from catme_etl_j_spark.sources.tables import load_table

    rows = asof_next_view(spark, sf_dir).collect()
    assert rows
    views = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .filter("event_type = 'view'")
        .select("user_id", "ts")
        .collect()
    ):
        views[r["user_id"]].append(r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"))
    for r in rows:
        assert r["view_ts"] > r["purchase_ts"]
        later = [t for t in views[r["user_id"]] if t > r["purchase_ts"]]
        assert r["view_ts"] == min(later)


def test_postings_sorted_and_sized(spark, sf_dir):
    """The array-typed library API keeps full posting-list semantics;
    the GATED query serializes exactly that list space-joined (the
    r7 driver-canonicalizer fix)."""
    from catme_etl_j_spark.operators.ranking import (
        POSTINGS_TOP,
        rank_postings,
        rank_postings_array,
    )

    rows = rank_postings_array(spark, sf_dir).collect()
    assert len(rows) == POSTINGS_TOP
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)
    for r in rows:
        p = r["postings"]
        assert len(p) == r["df"] and p == sorted(p) and len(set(p)) == len(p)
    gated = {r["term"]: r["postings"] for r in rank_postings(spark, sf_dir).collect()}
    for r in rows:
        assert gated[r["term"]] == " ".join(str(x) for x in r["postings"])


def test_feature_hash_bounds(spark, sf_dir):
    """Buckets within range, weights in [-3, 3] (3 features/doc), and
    per-doc total |weight| <= 3."""
    from collections import defaultdict

    from catme_etl_j_spark.operators.embed import HASH_DIM, embed_feature_hash

    rows = embed_feature_hash(spark, sf_dir).collect()
    per_doc = defaultdict(int)
    for r in rows:
        assert 0 <= r["bucket"] < HASH_DIM
        assert -3 <= r["weight"] <= 3 and r["weight"] != 0
        per_doc[r["doc_id"]] += abs(r["weight"])
    assert per_doc and max(per_doc.values()) <= 3


def test_ab_test_consistency(spark, sf_dir):
    """Variant counts cover the user base, rates derive from the
    counts, and the z-score is finite and non-degenerate on the
    fixture (some but not all users convert)."""
    import math

    from catme_etl_j_spark.operators.events import events_ab_test
    from catme_etl_j_spark.sources.tables import load_table

    r = events_ab_test(spark, sf_dir).collect()[0]
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert r["n_a"] + r["n_b"] == n_users
    assert 0 <= r["conv_a"] <= r["n_a"] and 0 <= r["conv_b"] <= r["n_b"]
    assert 0 < r["conv_a"] + r["conv_b"] < n_users, "conversion saturated"
    assert r["z_score"] is not None and math.isfinite(r["z_score"])
    want_a = math.floor(r["conv_a"] / r["n_a"] * 100 * 100 + 0.5) / 100
    assert abs(r["rate_a_pct"] - want_a) < 1e-9


def test_lsh_rerank_subset_of_bruteforce_order(spark, sf_dir):
    """Re-ranked candidates keep exact-cosine ordering, and any
    candidate also present in the exact top-k carries the identical
    score (stage 2 IS the exact metric)."""
    from catme_etl_j_spark.operators.similarity import (
        TOP_K,
        ann_lsh_rerank_topk,
        ann_topk_bruteforce,
    )

    rr = ann_lsh_rerank_topk(spark, sf_dir).collect()
    assert 0 < len(rr) <= TOP_K
    keys = [(-r["cos_sim"], r["vec_id"]) for r in rr]
    assert keys == sorted(keys)
    exact = {r["vec_id"]: r["cos_sim"] for r in ann_topk_bruteforce(spark, sf_dir).collect()}
    for r in rr:
        if r["vec_id"] in exact:
            assert r["cos_sim"] == exact[r["vec_id"]]


def test_peak_concurrency_bounds(spark, sf_dir):
    """Peak is between 1 and the number of users, and session-day
    counts are positive with days covering the sessionized range."""
    from catme_etl_j_spark.operators.events import events_peak_concurrency
    from catme_etl_j_spark.sources.tables import load_table

    rows = events_peak_concurrency(spark, sf_dir).collect()
    assert rows
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    days = [r["day"] for r in rows]
    assert days == sorted(days)
    for r in rows:
        assert 1 <= r["peak_concurrent"] <= n_users
        assert r["n_sessions"] >= r["peak_concurrent"]


def test_attribution_conserves_value(spark, sf_dir):
    """Total credited micro-cents never exceeds the attributable
    purchase value (equal-split floors drop at most n_touches-1
    micro-cents per purchase), and every credited purchase had >=1
    view in the window."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.operators.events import (
        ATTR_WINDOW_S,
        events_attribution_linear,
    )
    from catme_etl_j_spark.sources.tables import load_table

    rows = events_attribution_linear(spark, sf_dir).collect()
    assert rows
    total_credit = sum(r["credit_ucents"] for r in rows)
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter("event_type = 'purchase'").select(
        "user_id",
        F.col("ts").cast("double").alias("pt"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    v = ev.filter("event_type = 'view'").select(
        "user_id", F.col("ts").cast("double").alias("vt")
    )
    attributable = (
        p.join(v, "user_id")
        .filter((F.col("vt") <= F.col("pt")) & (F.col("vt") > F.col("pt") - ATTR_WINDOW_S))
        .select("user_id", "pt", "cents")
        .distinct()
        .agg(F.sum(F.col("cents") * 10000))
        .first()[0]
    )
    assert 0 < total_credit <= attributable


def test_attribution_touch_conserves_and_partitions(spark, sf_dir):
    """Every purchase's cents land on exactly one first-touch channel
    and exactly one last-touch channel, so both columns must sum to
    the same total (the exact purchase revenue) and both n_* columns
    to the purchase count."""
    from catme_etl_j_spark.operators.events import events_attribution_touch
    from catme_etl_j_spark.sources.tables import load_table

    rows = events_attribution_touch(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    exact = ev.filter("event_type = 'purchase'").selectExpr(
        "CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents",
        "COUNT(*) AS n",
    ).first()
    assert sum(r["first_cents"] for r in rows) == exact["cents"]
    assert sum(r["last_cents"] for r in rows) == exact["cents"]
    assert sum(r["n_first"] for r in rows) == exact["n"]
    assert sum(r["n_last"] for r in rows) == exact["n"]
    allowed = {"click", "purchase", "error", "signup", "view", "direct"}
    assert {r["channel"] for r in rows} <= allowed


def test_incremental_index_batch_only_and_thresholds(spark, sf_dir):
    """Output covers EXACTLY the incoming batch (doc_id % 10 >= 8);
    candidates imply a matching band, dups imply eq >= threshold, and
    no-candidate docs are novel with nulled match columns."""
    from catme_etl_j_spark.operators.dedup import (
        INCR_BATCH_MIN,
        INCR_EQ_THRESHOLD,
        INCR_SPLIT_MOD,
        dedup_incremental_index,
    )
    from catme_etl_j_spark.sources.tables import load_table

    rows = dedup_incremental_index(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    batch_ids = {
        r["doc_id"]
        for r in docs.select("doc_id").collect()
        if r["doc_id"] % INCR_SPLIT_MOD >= INCR_BATCH_MIN
    }
    assert {r["doc_id"] for r in rows} == batch_ids
    for r in rows:
        if r["n_index_candidates"] == 0:
            assert r["best_match_id"] is None and r["best_eq"] is None
            assert r["is_dup"] is False
        else:
            assert r["best_match_id"] % INCR_SPLIT_MOD < INCR_BATCH_MIN
            assert r["is_dup"] == (r["best_eq"] >= INCR_EQ_THRESHOLD)


def test_rake_scores_recompute(spark, sf_dir):
    """RAKE invariants: descending scores with phrase tie-break, and a
    direct Python recompute of degree/frequency word scores for the
    top phrase."""
    from catme_etl_j_spark.operators.text import RAKE_STOPWORDS, text_rake_keywords
    from catme_etl_j_spark.sources.tables import load_table

    rows = text_rake_keywords(spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r["score_e6"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(RAKE_STOPWORDS[0] not in r["phrase"].split() for r in rows)

    texts = [r["text"] for r in load_table(spark, sf_dir, "documents").collect()]
    import collections

    freq: collections.Counter = collections.Counter()
    deg: collections.Counter = collections.Counter()
    phrase_count: collections.Counter = collections.Counter()
    for t in texts:
        words = t.split()
        phrase: list[str] = []
        for w in words + [RAKE_STOPWORDS[0]]:
            if w in RAKE_STOPWORDS:
                if phrase:
                    phrase_count[" ".join(phrase)] += 1
                    for pw in phrase:
                        freq[pw] += 1
                        deg[pw] += len(phrase)
                phrase = []
            else:
                phrase.append(w)
    top = rows[0]
    expect = sum((deg[w] * 1000000) // freq[w] for w in top["phrase"].split())
    assert top["score_e6"] == expect
    assert top["n_occurrences"] == phrase_count[top["phrase"]]


def test_business_days_formula(spark, sf_dir):
    """The epoch-day weekday arithmetic must match Python's
    datetime.weekday over sampled (order, ship) date pairs, and shares
    must total ~1e6 ppm."""
    import datetime as dt

    from catme_etl_j_spark.operators.relational3 import fn_business_days
    from catme_etl_j_spark.sources.tables import load_table

    rows = fn_business_days(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r["share_ppm"] for r in rows) - 1_000_000) < len(rows)

    def g(d: dt.date) -> int:
        ed = (d - dt.date(1970, 1, 1)).days
        return 5 * (ed // 7) + (0, 1, 2, 2, 2, 3, 4)[ed % 7]

    import collections

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .selectExpr("to_date(l_shipdate) AS s", "to_date(o_orderdate) AS o")
        .collect()
    )
    expect = collections.Counter(g(r["s"]) - g(r["o"]) for r in pairs)
    got = {r["business_days"]: r["n_items"] for r in rows}
    assert got == dict(expect)


def test_er_similar_names_blocking(spark, sf_dir):
    """Pairs share a head noun, respect the edit threshold, and the
    multiplicity product is consistent; distance is symmetric-safe
    (name_a < name_b canonicalization)."""
    from catme_etl_j_spark.operators.dedup import ER_MAX_EDIT, dedup_er_similar_names

    rows = dedup_er_similar_names(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["name_a"] < r["name_b"]
        assert r["name_a"].split()[-1] == r["name_b"].split()[-1]
        assert 1 <= r["dist"] <= ER_MAX_EDIT
        assert r["n_entity_pairs"] == r["n_parts_a"] * r["n_parts_b"]


def test_heatmap_totals_and_bounds(spark, sf_dir):
    from catme_etl_j_spark.operators.events import events_heatmap_hour_dow
    from catme_etl_j_spark.sources.tables import load_table

    rows = events_heatmap_hour_dow(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert 0 <= r["dow"] <= 6 and 0 <= r["hour"] <= 23
        assert 0 <= r["n_purchases"] <= r["n_events"]


def test_inter_arrival_buckets(spark, sf_dir):
    from catme_etl_j_spark.operators.events import events_inter_arrival
    from catme_etl_j_spark.sources.tables import load_table

    rows = events_inter_arrival(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_gaps"] for r in rows) == ev.count() - n_users
    for r in rows:
        b = r["bucket_pow2"]
        lo, hi = (0 if b == 1 else 1 << (b - 1)), (1 << b) - 1
        assert lo <= r["min_gap_s"] <= r["max_gap_s"] <= hi


def test_lsh_tuning_scurve_monotonicity(spark, sf_dir):
    """More rows per band = stricter: candidate counts must be
    non-increasing and mean estimated Jaccard non-decreasing along
    (16x2, 8x4, 4x8)."""
    from catme_etl_j_spark.operators.dedup import dedup_lsh_tuning

    rows = dedup_lsh_tuning(spark, sf_dir).collect()
    assert [(r["bands"], r["rows_per_band"]) for r in rows] == [
        (16, 2),
        (8, 4),
        (4, 8),
    ]
    cands = [r["n_candidates"] for r in rows]
    assert cands[0] >= cands[1] >= cands[2]
    quality = [r["mean_est_jaccard_e6"] for r in rows if r["n_candidates"] > 0]
    assert quality == sorted(quality)


def test_heldout_ppl_oov_and_bounds(spark, sf_dir):
    """Perplexity = exp(-avg_logprob) per row and >= 1 for a
    <=1-probability model. NB: the synthetic vocabulary is ~31 words,
    so the 90% train split usually covers every eval bigram — n_oov is
    structurally near 0 here; the OOV PATH is exercised by the left
    joins regardless (and would engage on any real corpus)."""
    import math

    from catme_etl_j_spark.operators.text import text_lm_heldout_ppl

    rows = text_lm_heldout_ppl(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_bigrams"]
        assert r["avg_logprob"] < 0
        assert r["perplexity"] >= 1.0
        assert abs(r["perplexity"] - math.exp(-r["avg_logprob"])) < 0.01


def test_cross_source_matrix_conserves_pairs(spark, sf_dir):
    from catme_etl_j_spark.operators.dedup import (
        dedup_cross_source_matrix,
        minhash_lsh_candidates,
    )

    rows = dedup_cross_source_matrix(spark, sf_dir).collect()
    total = minhash_lsh_candidates(spark, sf_dir).count()
    assert sum(r["n_pairs"] for r in rows) == total
    for r in rows:
        assert r["source_x"] <= r["source_y"]
        assert r["cross_source"] == (r["source_x"] != r["source_y"])


def test_null_semantics_identities(spark, sf_dir):
    """The three-valued split must partition the rows; NULL skipping
    must equal the injected NULL count."""
    from catme_etl_j_spark.operators.relational2 import fn_null_semantics
    from catme_etl_j_spark.sources.tables import load_table

    [r] = fn_null_semantics(spark, sf_dir).collect()
    assert r["n_true"] + r["n_false"] + r["n_unknown"] == r["n_rows"]
    li = load_table(spark, sf_dir, "lineitem")
    n_ones = li.filter("l_quantity = 1.0").count()
    assert r["n_rows"] - r["n_nonnull"] == n_ones
    assert r["n_unknown"] == n_ones


def test_bot_score_cv_identity(spark, sf_dir):
    """cv2 must match a direct Python recompute for sampled users and
    the flag must follow its definition."""
    from catme_etl_j_spark.operators.events import (
        BOT_CV2_MAX,
        BOT_MIN_GAPS,
        events_bot_score,
    )
    from catme_etl_j_spark.sources.tables import load_table

    rows = events_bot_score(spark, sf_dir).collect()
    assert rows
    ev = (
        load_table(spark, sf_dir, "events")
        .selectExpr("user_id", "unix_micros(ts) AS us", "event_id")
        .collect()
    )
    import collections

    per_user = collections.defaultdict(list)
    for r in ev:
        per_user[r["user_id"]].append((r["us"], r["event_id"]))
    for r in rows[:5]:
        seq = sorted(per_user[r["user_id"]])
        gaps = [(b[0] - a[0]) // 1_000_000 for a, b in zip(seq, seq[1:])]
        n, sg, sgg = len(gaps), sum(gaps), sum(g * g for g in gaps)
        assert r["n_gaps"] == n
        if sg > 0:
            cv2 = (n * sgg - sg * sg) / (sg * sg)
            assert abs(r["cv2"] - cv2) < 1e-5
        else:
            assert r["cv2"] is None
        assert r["bot_suspect"] == (
            n >= BOT_MIN_GAPS
            and (sg == 0 or (r["cv2"] is not None and r["cv2"] < BOT_CV2_MAX))
        )


def test_bot_score_all_same_second_user_matches_oracle(spark, tmp_path):
    """VERDICT r5 #4 fixture: a burst bot firing 25 events inside ONE
    second makes every gap 0 s and Σg = 0 — the degenerate cv² = x/0.
    Both engines must agree: cv2 NULL, bot_suspect TRUE (all-zero gaps
    are maximally metronomic). A metronomic-but-nonzero user and an
    irregular human ride along to pin the live branches."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod

    base_us = 1_700_000_000_000_000
    rows = []
    eid = 0
    # user 1: 25 events in the same second (sub-second spacing)
    for i in range(25):
        rows.append((eid, base_us + i * 1000, 1)); eid += 1
    # user 2: 25 events exactly 60 s apart (metronomic, sg > 0)
    for i in range(25):
        rows.append((eid, base_us + i * 60_000_000, 2)); eid += 1
    # user 3: 25 events with irregular gaps (human)
    t = base_us
    for i in range(25):
        t += (1 + (i * 37) % 500) * 1_000_000
        rows.append((eid, t, 3)); eid += 1
    # user 4: 5 events in one second (degenerate but under BOT_MIN_GAPS)
    for i in range(5):
        rows.append((eid, base_us + i * 2000, 4)); eid += 1
    table = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array(["click"] * len(rows)),
        "value": pa.array([1.0] * len(rows)),
        "props": pa.array(["{}"] * len(rows)),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))

    from catme_etl_j_spark.operators.events import events_bot_score

    sdf = events_bot_score(spark, str(tmp_path))
    srows = {r["user_id"]: r for r in sdf.collect()}
    assert srows[1]["cv2"] is None and srows[1]["bot_suspect"] is True
    assert srows[2]["cv2"] == 0.0 and srows[2]["bot_suspect"] is True
    assert srows[3]["bot_suspect"] is False
    assert srows[4]["n_gaps"] == 4 and srows[4]["bot_suspect"] is False

    con = ddb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["events_bot_score"])
    scols = [c.lower() for c in sdf.columns]
    ocols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(ocols)
    assert _norm(scols, [tuple(r) for r in sdf.collect()]) == _norm(
        ocols, rel.fetchall()
    )


def test_short_doc_guards_match_oracle(spark, tmp_path):
    """ADVICE r5 sweep fixture: documents with 0/1/2 words (and <k
    chars) hit every shingle/n-gram/winnow sequence(1, N<=0) trap —
    unguarded, Spark's DESCENDING sequence(1, 0) either crashes
    (element_at(_, 0)) or emits bogus pseudo-grams the DuckDB twin
    never produces. Each guarded query must run AND hash-match its
    oracle on this corpus."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod

    texts = [
        "",            # empty
        "one",         # 1 word, 3 chars (< winnow k)
        "two words",   # 2 words
        "a b c",       # exactly 3 words -> one shingle
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    ]
    table = pa.table({
        "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array(["web", "web", "book", "book", "wiki"]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, str(tmp_path / "documents.parquet"))

    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    for name in (
        "sketch_kmv_distinct",
        "sketch_hll_distinct",
        "text_repetition",
        "text_winnow_fingerprint",
        "corpus_vocab_growth",
    ):
        sdf = qs[name](spark, str(tmp_path))
        srows = [tuple(r) for r in sdf.collect()]  # must not crash
        rel = con.sql(os_[name])
        scols = [c.lower() for c in sdf.columns]
        ocols = [c.lower() for c in rel.columns]
        assert sorted(scols) == sorted(ocols), name
        assert _norm(scols, srows) == _norm(ocols, rel.fetchall()), name


def test_udtf_top_words_keeps_tabs_and_newlines_like_oracle(spark, tmp_path):
    """The UDTF's Python split must be the Spark/DuckDB one: ``trim``
    strips spaces only, so a tab or newline at a document's edge stays
    inside its edge word (``'\\tfoo'``, ``'bar\\n'``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = ["\tfoo foo bar\n", "\nfoo bar\t", "  a a  b  ", ""]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["web"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        str(tmp_path / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    name = "fn_udtf_top_words"
    sdf = entry_mod.queries()[name](spark, str(tmp_path))
    rel = con.sql(entry_mod.oracle_sql()[name])
    srows = [tuple(r) for r in sdf.collect()]
    scols = [c.lower() for c in sdf.columns]
    ocols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(ocols)
    assert _norm(scols, srows) == _norm(ocols, rel.fetchall())
    assert (1, "\tfoo", 1) in srows


def test_bpe_train_textbook_example():
    """The classic Sennrich toy corpus: first merges must be the
    highest-weighted pairs with (count DESC, pat ASC) tie-breaks."""
    from catme_etl_j_spark.operators.corpus import _bpe_train

    vocab = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = _bpe_train(vocab, n_merges=4)
    # e s (9) ties s t (9) -> 'e s' first (pat ASC); then es t (9)
    assert merges == [("e s", 9), ("es t", 9), ("l o", 7), ("lo w", 7)]
    # exhausting the corpus stops early instead of looping
    assert _bpe_train([("ab", 1)], n_merges=50) == [("a b", 1)]


def test_bpe_tokenize_bounds(spark, sf_dir):
    """Per source: char_tokens >= bpe_tokens >= ws_tokens (every word
    is >=1 and <= len(word) tokens); 50 merges trained; ratios follow
    their fixed-point definitions."""
    from catme_etl_j_spark.operators.corpus import BPE_MERGES, corpus_bpe_tokenize

    rows = corpus_bpe_tokenize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_merges"] == BPE_MERGES
        assert r["ws_tokens"] <= r["bpe_tokens"] <= r["char_tokens"]
        assert r["bpe_per_ws_ppm"] == r["bpe_tokens"] * 1000000 // r["ws_tokens"]
        assert r["bpe_per_char_ppm"] == r["bpe_tokens"] * 1000000 // r["char_tokens"]
        assert r["bpe_tok_per_doc"] == (r["bpe_tokens"] * 100 // r["n_docs"]) / 100.0


def test_embed_e2e_pipeline_reconciles(spark, sf_dir):
    """Stage counts must reconcile (kept + dropped = valid <= chunks)
    and the dedup-verify result must equal the ground truth: dropped =
    chunks minus distinct chunk texts (identical vectors <=> identical
    chunks for the stub embedder, and sign-LSH always collides them)."""
    from catme_etl_j_spark.operators.embed import (
        E2E_CHUNK_TOKENS,
        embed_e2e_pipeline,
    )
    from catme_etl_j_spark.sources.tables import load_table

    [r] = embed_e2e_pipeline(spark, sf_dir).collect()
    assert r["n_kept"] + r["n_dropped"] == r["n_valid"]
    assert r["n_valid"] <= r["n_chunks"]
    assert r["n_dup_pairs"] <= r["n_cand_pairs"]
    assert r["n_buckets"] <= r["n_valid"]

    docs = load_table(spark, sf_dir, "documents")
    import pyspark.sql.functions as F

    chunk_arr = (
        f"transform(sequence(0, CAST(ceil(size(w) / {E2E_CHUNK_TOKENS}.0) AS INT) - 1), "
        f"c -> array_join(slice(w, c * {E2E_CHUNK_TOKENS} + 1, {E2E_CHUNK_TOKENS}), ' '))"
    )
    ch = (
        docs.select(F.expr("split(trim(text), ' +')").alias("w"))
        .select(F.explode(F.expr(chunk_arr)).alias("chunk"))
    )
    n_chunks = ch.count()
    n_distinct = ch.distinct().count()
    assert r["n_chunks"] == n_chunks
    assert r["n_dropped"] == n_chunks - n_distinct
    assert r["n_kept"] == n_distinct


def test_ams_f2_estimate_reasonable(spark, sf_dir):
    """Exact F2 >= n_distinct (sum of squares >= count of positives);
    the 16-estimator median-of-means lands within 50% of exact on the
    fixture stream (loose but catches sign/median plumbing bugs)."""
    from catme_etl_j_spark.operators.sketch import sketch_ams_f2

    [r] = sketch_ams_f2(spark, sf_dir).collect()
    assert r["exact_f2"] >= r["n_distinct"] >= 1
    assert r["est_f2"] >= 0
    assert abs(r["est_f2"] - r["exact_f2"]) <= r["exact_f2"] // 2
    assert r["abs_err_ppm"] == abs(r["est_f2"] - r["exact_f2"]) * 1000000 // r["exact_f2"]


def test_month_in_flight_brackets(spark, sf_dir):
    """Every joined lineitem contributes to >=1 month; monthly open
    lines never exceed the total line count; months are contiguous
    ISO strings."""
    from catme_etl_j_spark.operators.rangejoin import range_month_in_flight
    from catme_etl_j_spark.sources.tables import load_table

    rows = range_month_in_flight(spark, sf_dir).collect()
    assert rows
    n_lines = load_table(spark, sf_dir, "lineitem").count()
    months = [r["month"] for r in rows]
    assert months == sorted(months)
    for r in rows:
        assert 0 < r["n_open_lines"] <= n_lines * 84  # bounded fan-out
        assert r["n_open_orders"] <= r["n_open_lines"]
    # total span contributions >= one per line (each line >=1 month)
    assert sum(r["n_open_lines"] for r in rows) >= n_lines


def test_unpivot_charges_shape(spark, sf_dir):
    """Three measures, each with the full row count and min <= max."""
    from catme_etl_j_spark.operators.relational3 import unpivot_lineitem_charges
    from catme_etl_j_spark.sources.tables import load_table

    rows = {r["charge"]: r for r in unpivot_lineitem_charges(spark, sf_dir).collect()}
    n = load_table(spark, sf_dir, "lineitem").count()
    assert set(rows) == {"l_extendedprice", "l_discount", "l_tax"}
    for r in rows.values():
        assert r["n_rows"] == n
        assert r["min_value"] <= r["max_value"]


def test_lateral_top3_parts_per_brand(spark, sf_dir):
    """<=3 rows per brand, descending retail price with partkey
    tie-break, and each row really is in that brand's top-3."""
    from catme_etl_j_spark.operators.relational3 import lateral_top3_parts
    from catme_etl_j_spark.sources.tables import load_table

    rows = lateral_top3_parts(spark, sf_dir).collect()
    by_brand: dict = {}
    for r in rows:
        by_brand.setdefault(r["p_brand"], []).append(r)
    parts = load_table(spark, sf_dir, "part").collect()
    full: dict = {}
    for p in parts:
        full.setdefault(p["p_brand"], []).append(p)
    assert set(by_brand) == set(full)
    for brand, members in by_brand.items():
        assert len(members) == min(3, len(full[brand]))
        want = sorted(full[brand], key=lambda p: (-p["p_retailprice"], p["p_partkey"]))[:3]
        got = sorted(members, key=lambda p: (-p["p_retailprice"], p["p_partkey"]))
        assert [m["p_partkey"] for m in got] == [w["p_partkey"] for w in want]


def test_cusum_changepoint_detects_injected_drift(spark, tmp_path):
    """A 2x volume step after the 14-day baseline must alarm exactly
    when the scaled CUSUM first reaches 3*base_sum: dev = 14*20-140 =
    140/day, threshold 420 -> day 16. A stationary control type must
    not alarm. Spark output is also hash-compared to the oracle."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod

    rows = []
    eid = 0
    for day in range(30):
        n = 10 if day < 14 else 20
        for i in range(n):
            rows.append((eid, day * 86_400_000_000 + i * 1_000_000, "drift")); eid += 1
        for i in range(10):  # stationary control
            rows.append((eid, day * 86_400_000_000 + i * 1_000_000, "flat")); eid += 1
    table = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([1] * len(rows), pa.int64()),
        "event_type": pa.array([r[2] for r in rows]),
        "value": pa.array([1.0] * len(rows)),
        "props": pa.array(["{}"] * len(rows)),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))

    from catme_etl_j_spark.operators.events import events_cusum_changepoint

    sdf = events_cusum_changepoint(spark, str(tmp_path))
    out = {r["event_type"]: r for r in sdf.collect()}
    assert out["drift"]["base_sum"] == 140
    assert out["drift"]["alarmed"] == 1
    # absolute epoch-day number (fixture starts at epoch day 0, so the
    # number and the series offset coincide here — see docstring)
    assert out["drift"]["alarm_epoch_day"] == 16
    assert out["flat"]["alarmed"] == 0 and out["flat"]["alarm_epoch_day"] is None

    con = ddb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    rel = con.sql(entry_mod.oracle_sql()["events_cusum_changepoint"])
    scols = [c.lower() for c in sdf.columns]
    ocols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(ocols)
    assert _norm(scols, [tuple(r) for r in sdf.collect()]) == _norm(ocols, rel.fetchall())


def test_substring_mass_coverage_bounds(spark, sf_dir):
    """dup_tokens never exceeds n_tokens; touched docs <= n_docs;
    dup_ppm follows its fixed-point definition. A hand-built corpus
    with one shared 8-gram pins the interval-union arithmetic."""
    from catme_etl_j_spark.operators.dedup import dedup_substring_mass

    rows = dedup_substring_mass(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["dup_tokens"] <= r["n_tokens"]
        assert 0 <= r["n_docs_touched"] <= r["n_docs"]
        assert r["dup_ppm"] == r["dup_tokens"] * 1000000 // r["n_tokens"]


def test_substring_mass_hand_fixture(spark, tmp_path):
    """Two docs sharing one 8-token run + a unique doc: the shared run
    covers exactly 8 tokens in each sharer (overlapping gram intervals
    union, not sum), the unique doc contributes zero."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shared = "a b c d e f g h i j"  # 10 tokens: grams at pos 0,1,2 all repeated
    texts = [
        shared,
        shared,
        "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10",
    ]
    table = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * 3),
        "source": pa.array(["s1", "s1", "s2"]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, str(tmp_path / "documents.parquet"))

    from catme_etl_j_spark.operators.dedup import dedup_substring_mass

    out = {r["source"]: r for r in dedup_substring_mass(spark, str(tmp_path)).collect()}
    # both copies fully covered: grams at pos 0..2 union to [0, 10) = 10 tokens
    assert out["s1"]["dup_tokens"] == 20 and out["s1"]["n_docs_touched"] == 2
    assert out["s2"]["dup_tokens"] == 0 and out["s2"]["n_docs_touched"] == 0


def test_ams_join_size_identity(spark, sf_dir):
    """exact_join >= n_common_keys (each shared key contributes
    fa*fb >= 1); estimate within 50% on fixtures; err ppm follows its
    definition."""
    from catme_etl_j_spark.operators.sketch import sketch_ams_join_size

    [r] = sketch_ams_join_size(spark, sf_dir).collect()
    assert r["exact_join"] >= r["n_common_keys"] >= 1
    # 16 estimators give only an order-of-magnitude guarantee when the
    # inner product is small relative to the stream norms (sf0.001 sits
    # at ~64% error; sf0.1 at ~5%) — pin the arithmetic identity and a
    # loose magnitude band, not statistical luck
    assert r["exact_join"] // 5 <= r["est_join"] <= r["exact_join"] * 5
    assert r["abs_err_ppm"] == abs(r["est_join"] - r["exact_join"]) * 1000000 // r["exact_join"]


def test_pmi_bigrams_ordering_and_floor(spark, sf_dir):
    """Exactly top-20, count floor respected, (pmi DESC, bigram ASC)
    order, and one row's PMI matches a Python recompute."""
    import math

    from catme_etl_j_spark.operators.text import PMI_MIN_COUNT, text_pmi_bigrams
    from catme_etl_j_spark.sources.tables import load_table

    rows = text_pmi_bigrams(spark, sf_dir).collect()
    assert len(rows) == 20
    keys = [(-r["pmi_fp"], r["bigram"]) for r in rows]
    assert keys == sorted(keys)
    assert all(r["c12"] >= PMI_MIN_COUNT for r in rows)
    import re

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    # replicate split(trim(text), ' +') EXACTLY: spaces only (not any
    # whitespace), and an empty doc yields one '' token
    toks = [re.split(" +", d["text"].strip()) for d in docs]
    words = [w for ws in toks for w in ws]
    nw = len(words)
    from collections import Counter

    uni = Counter(words)
    bi = Counter()
    for ws in toks:
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] += 1
    nb = sum(bi.values())
    r = rows[0]
    x, y = r["bigram"].split(" ", 1)
    want = math.floor(
        math.log(bi[(x, y)] * nw * nw / (nb * uni[x] * uni[y])) * 1e6 + 0.5
    )
    assert r["pmi_fp"] == want
    assert r["c12"] == bi[(x, y)] and r["c1"] == uni[x] and r["c2"] == uni[y]


def test_shard_assignment_conserves_and_balances(spark, sf_dir):
    """Shards partition the corpus exactly (doc/token totals conserve),
    the portable hash matches a Python recompute, and ppm loads sum to
    ~N_SHARDS million (integer truncation only)."""
    import hashlib

    from catme_etl_j_spark.operators.corpus import N_SHARDS, corpus_shard_assignment
    from catme_etl_j_spark.sources.tables import load_table

    rows = corpus_shard_assignment(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select("doc_id").collect()
    assert sum(r["n_docs"] for r in rows) == len(docs)
    want = {}
    for d in docs:
        s = int(hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:8], 16) % N_SHARDS
        want[s] = want.get(s, 0) + 1
    assert {r["shard"]: r["n_docs"] for r in rows} == want
    total_ppm = sum(r["load_ppm_of_ideal"] for r in rows)
    assert N_SHARDS * 1000000 - len(rows) <= total_ppm <= N_SHARDS * 1000000


def test_pagerank_users_matches_python_recurrence(spark, tmp_path):
    """A handcrafted 4-user event stream (one type, one day, known
    adjacency chain) must yield exactly the ranks of the same integer
    recurrence computed in pure Python, and hash-match the unrolled-CTE
    DuckDB oracle on the same fixture — the Pregel-shaped join loop and
    the driver-free plumbing proven against an independent oracle."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.graph import PR_SCALE, PRU_ITERS

    # event sequence u: 1,2,3,1,2,1,4 -> adjacency edges
    # (1,2)x2 (2,3) (3,1) (2,1) (1,4)
    seq = [1, 2, 3, 1, 2, 1, 4]
    table = pa.table({
        "event_id": pa.array(range(len(seq)), pa.int64()),
        "ts": pa.array([i * 1_000_000 for i in range(len(seq))], pa.timestamp("us")),
        "user_id": pa.array(seq, pa.int64()),
        "event_type": pa.array(["view"] * len(seq)),
        "value": pa.array([1.0] * len(seq)),
        "props": pa.array(["{}"] * len(seq)),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))

    # the same integer recurrence, independently in Python
    edges: dict = {}
    for a, b in zip(seq, seq[1:]):
        if a != b:
            edges[(a, b)] = edges.get((a, b), 0) + 1
    outw: dict = {}
    for (a, _b), w in edges.items():
        outw[a] = outw.get(a, 0) + w
    nodes = sorted(set(seq))
    n = len(nodes)
    base = (15 * PR_SCALE) // (100 * n)
    rank = {u: PR_SCALE // n for u in nodes}
    for _ in range(PRU_ITERS):
        s: dict = {}
        for (a, b), w in edges.items():
            s[b] = s.get(b, 0) + (rank[a] * w) // outw[a]
        rank = {u: base + (85 * s.get(u, 0)) // 100 for u in nodes}

    from catme_etl_j_spark.operators.graph import graph_pagerank_users

    sdf = graph_pagerank_users(spark, str(tmp_path))
    got = {r["user_id"]: r["rank_e9"] for r in sdf.collect()}
    assert got == rank

    con = ddb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    rel = con.sql(entry_mod.oracle_sql()["graph_pagerank_users"])
    orows = {r[0]: r[1] for r in rel.fetchall()}
    assert orows == rank


def test_bench_headline_names_resolve():
    """Every bench.py HEADLINE entry must exist in queries() — a rename
    would otherwise surface only as a KeyError in the driver's bench
    run, producing an empty BENCH artifact for the whole round."""
    import bench

    import __spark_entry__ as m

    missing = [n for n in bench.HEADLINE if n not in m.queries()]
    assert not missing, f"bench names not in queries(): {missing}"


def test_bench_subset_shares_eager_set():
    """VERDICT r10 ADVICE: tools/bench_subset.py must time exactly the
    same construction-eager span as bench.py — the sets are one module
    constant, not two hand-maintained copies — and every eager name
    must be a HEADLINE member (a heavy new query outside HEADLINE
    can't silently bench construction-excluded)."""
    import importlib.util
    import os as _os

    import bench

    spec = importlib.util.spec_from_file_location(
        "bench_subset",
        _os.path.join(_os.path.dirname(bench.__file__), "tools", "bench_subset.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.EAGER is bench.EAGER_CONSTRUCTION
    stray = [n for n in bench.EAGER_CONSTRUCTION if n not in bench.HEADLINE]
    assert not stray, f"eager names not benched in HEADLINE: {stray}"


@pytest.mark.slow
def test_eager_construction_set_is_mechanically_exact(spark, sf_dir):
    """VERDICT r11 #7: EAGER_CONSTRUCTION membership is VERIFIED, not
    hand-maintained — construct every HEADLINE query inside its own job
    group and ask the status tracker which groups scheduled Spark jobs.
    A query whose construction schedules jobs but is missing from the
    set would under-report its bench time (construction excluded); a
    listed query whose construction became lazy would over-report.
    Marked slow: the eager constructions run their real checkpoint /
    collect jobs (~1 min wall)."""
    import bench

    import __spark_entry__ as m

    import re

    queries = m.queries()
    tracker = spark.sparkContext.statusTracker()
    # A spark.read.<fmt> without a schema schedules one distributed
    # schema-inference job (single stage named "<fmt> at ..."); for
    # load_table's parquet files that is only each file's first read in
    # the session (sources.tables memoizes the schema); bench.py's lazy protocol
    # deliberately excludes those per-session read costs by resetting
    # t0 after construction. "Eager" means any OTHER job: checkpoint
    # materializations ("localCheckpoint at ..."), AQE stage futures
    # ("withThreadLocalCaptured"), driver collects ("first"/"collect").
    read_stage = re.compile(r"^(parquet|json|orc|csv|text|binaryFile) at ")

    def real_jobs(group: str) -> list[str]:
        out = []
        for jid in tracker.getJobIdsForGroup(group):
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            names = []
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    names.append(si.name)
            if not all(read_stage.match(n) for n in names):
                out.extend(names or [f"job {jid}"])
        return out

    wrong: list[str] = []
    try:
        for name in bench.HEADLINE:
            group = f"eager-probe-{name}"
            spark.sparkContext.setJobGroup(group, name)
            queries[name](spark, sf_dir)
            jobs = real_jobs(group)
            if bool(jobs) != (name in bench.EAGER_CONSTRUCTION):
                wrong.append(
                    f"{name}: construction "
                    f"{'schedules ' + str(jobs[:3]) if jobs else 'schedules no jobs'}"
                    f" but is {'NOT ' if jobs else ''}in EAGER_CONSTRUCTION"
                )
    finally:
        # drop the group property so later tests' jobs aren't tagged
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setLocalProperty("spark.job.description", None)
    assert not wrong, "\n".join(wrong)


def test_bitemporal_snapshots_consistent(spark, sf_dir):
    """Bitemporal invariants: exactly ONE version of every valid-window
    order is visible at each transaction snapshot (so per-snapshot
    order counts agree), and corrections can only LOWER believed
    revenue, so early >= late."""
    from catme_etl_j_spark.operators.etl import etl_bitemporal_asof

    rows = etl_bitemporal_asof(spark, sf_dir).collect()
    by_snap: dict = {}
    for r in rows:
        agg = by_snap.setdefault(r["snapshot"], [0, 0.0])
        agg[0] += r["n_orders"]
        agg[1] += r["believed_revenue"]
    assert set(by_snap) == {"early", "late"}
    assert by_snap["early"][0] == by_snap["late"][0]
    assert by_snap["early"][1] >= by_snap["late"][1]


def test_dsir_candidates_exclude_target(spark, sf_dir):
    """DSIR importance scoring selects FROM the raw pool: no target-
    source doc may appear, scores are positive (all-ones smoothing
    keeps every bucket weight >= 1), and the top-k ordering is
    score DESC with doc_id tie-break."""
    from catme_etl_j_spark.operators.corpus import (
        DSIR_TARGET_SOURCES,
        DSIR_TOPK,
        corpus_dsir_importance,
    )

    rows = corpus_dsir_importance(spark, sf_dir).collect()
    assert 0 < len(rows) <= DSIR_TOPK
    assert all(r["source"] not in DSIR_TARGET_SOURCES for r in rows)
    assert all(r["score_fp"] > 0 for r in rows)
    keys = [(-r["score_fp"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


def test_pca_outliers_recovers_dominant_axis(spark, tmp_path):
    """On a synthetic corpus whose variance is concentrated on ONE
    dimension, the power iteration must recover that axis: the top
    outliers are exactly the most extreme vectors along it, and the
    DuckDB oracle replays the full iteration to the same rows."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.embed import COV_DIM, embed_pca_outliers

    vecs = []
    for k in range(40):
        v = [0.0] * COV_DIM
        # dominant axis: dim 3 swings +-(k/40); noise axis dim 10 tiny
        v[3] = (k - 20) / 40.0
        v[10] = 0.001 * (k % 3)
        vecs.append(v)
    table = pa.table(
        {
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([k % 4 for k in range(40)], pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))

    sdf = embed_pca_outliers(spark, str(tmp_path))
    rows = sdf.collect()
    assert len(rows) == 20
    # extremes along dim 3 (vec_id 0 and 39) must lead
    assert {rows[0]["vec_id"], rows[1]["vec_id"]} == {0, 39}
    # proj is the fixed-point value rescaled
    for r in rows:
        assert abs(r["proj"] - r["proj_fp"] / 1e10) < 1e-12

    con = ddb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["embed_pca_outliers"])
    scols = [c.lower() for c in sdf.columns]
    ocols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(ocols)
    assert _norm(scols, [tuple(r) for r in rows]) == _norm(ocols, rel.fetchall())


def test_pca_outliers_zero_matrix_degenerate(spark, tmp_path):
    """All-identical embeddings make the covariance matrix exactly zero:
    the max|raw| == 0 guard must zero the vector on BOTH engines (not
    divide by zero), leaving every projection 0 and the top-k ordered
    purely by vec_id."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.embed import COV_DIM, embed_pca_outliers

    vecs = [[0.25] * COV_DIM for _ in range(30)]
    table = pa.table(
        {
            "vec_id": pa.array(range(30), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * 30, pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))

    sdf = embed_pca_outliers(spark, str(tmp_path))
    rows = sdf.collect()
    assert [r["vec_id"] for r in rows] == list(range(20))
    assert all(r["proj_fp"] == 0 for r in rows)

    con = ddb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["embed_pca_outliers"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_covariance_ragged_null_rows(spark, tmp_path):
    """The r11 Gram-partials rewrite (_cov_partials) must replicate the
    old posexplode/self-join/SUM semantics on rows the corpus contract
    never ships: ragged lengths (cells exist only up to each row's
    length), NULL elements (Arrow delivers them as NaN-in-float64;
    SUM skips them, but the cell still EXISTS and goes all-NULL when
    no product survives), empty and NULL arrays (count-only rows).
    Verified against the DuckDB oracle twin end-to-end."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.embed import embed_covariance

    vecs = [
        [0.5, -0.25, 0.125],           # ragged: shorter than COV_DIM
        [0.1, None, 0.3, 0.4],         # NULL element -> NaN batch
        [None, None],                  # all-NULL prefix: cells exist, sums NULL
        [],                            # empty: count-only
        None,                          # NULL array: count-only
        [0.2, 0.3],
    ]
    table = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))

    sdf = embed_covariance(spark, str(tmp_path))
    rows = sdf.collect()
    # position 1 exists in 4 rows but only (1,1),(1,2),(1,3) products
    # involving row 1's NULL are skipped; cell (0,1) from the all-NULL
    # row 2 must still be present via rows 0/1/5
    assert {(r["i"], r["j"]) for r in rows} >= {(0, 0), (0, 1), (2, 3)}
    assert all(r["n_vectors"] == len(vecs) for r in rows)

    con = ddb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["embed_covariance"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_chunk_manifest_multibyte_payload(spark, tmp_path):
    """ADVICE r7: offsets/chunk_bytes are UTF-8 BYTE quantities, so the
    head_hex preview must be byte-indexed too — a character-indexed
    slice desyncs from `offset` on any multi-byte payload. Fixture: a
    doc of 2-byte chars ('é'*120 = 240 bytes at CHUNK_BLOB_BYTES=100)
    whose second chunk starts MID-CHARACTER; head_hex must equal the
    8 raw bytes at the byte offset, engine-agreed."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.multimodal import (
        CHUNK_BLOB_BYTES,
        multimodal_chunk_manifest,
    )

    texts = ["é" * 120, "abc", ""]
    table = pa.table(
        {
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["fr", "en", "en"], pa.string()),
            "source": pa.array(["t"] * 3, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))

    sdf = multimodal_chunk_manifest(spark, str(tmp_path))
    rows = sdf.collect()
    by_key = {(r["doc_id"], r["chunk_idx"]): r for r in rows}
    blob = ("é" * 120).encode("utf-8")  # 240 bytes
    assert by_key[(1, 0)]["chunk_bytes"] == CHUNK_BLOB_BYTES
    assert by_key[(1, 2)]["chunk_bytes"] == 240 - 2 * CHUNK_BLOB_BYTES
    for idx in (0, 1, 2):
        off = idx * CHUNK_BLOB_BYTES
        want = blob[off:off + 8].hex().upper()
        assert by_key[(1, idx)]["head_hex"] == want, (idx, off)
    assert by_key[(2, 0)]["head_hex"] == b"abc".hex().upper()

    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["multimodal_chunk_manifest"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def _doc_fixture(tmp_path, texts, langs=None, sources=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(range(1, n + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs or ["en"] * n, pa.string()),
            "source": pa.array(sources or ["t"] * n, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    import duckdb as ddb

    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    return con


def test_payload_entropy_degenerate_docs(spark, tmp_path):
    """Convention #9 fixtures for the byte-entropy op: empty payload
    (NULL entropy, 0 bytes), single byte (entropy exactly 0), uniform
    repeats (entropy 0), and a two-byte alternation (exactly 1 bit) —
    engine-compared on each."""
    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.multimodal import multimodal_payload_entropy

    con = _doc_fixture(tmp_path, ["", "a", "aaaaaaaa", "ababab", "abcd"])
    sdf = multimodal_payload_entropy(spark, str(tmp_path))
    rows = {r["doc_id"]: r for r in sdf.collect()}
    assert rows[1]["n_bytes"] == 0 and rows[1]["entropy_bits"] is None
    assert rows[2]["entropy_bits"] == 0.0
    assert rows[3]["entropy_bits"] == 0.0
    assert rows[4]["entropy_bits"] == 1.0
    assert rows[5]["entropy_bits"] == 2.0
    rel = con.sql(entry_mod.oracle_sql()["multimodal_payload_entropy"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_tokenizer_fertility_degenerate_docs(spark, tmp_path):
    """Convention #9: an all-empty-text slice must yield NULL fertility
    (0 words) on BOTH engines, not a division error; punctuation-only
    text has subwords but zero whitespace words."""
    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.corpus import corpus_tokenizer_fertility

    con = _doc_fixture(
        tmp_path,
        ["", "   ", "!!!", "hello world"],
        sources=["empty", "empty", "punct", "ok"],
    )
    sdf = corpus_tokenizer_fertility(spark, str(tmp_path))
    rows = {r["source"]: r for r in sdf.collect()}
    assert rows["empty"]["n_words"] == 0 and rows["empty"]["fertility"] is None
    # '!!!' is ONE whitespace word but three BPE-ish subword tokens
    assert rows["punct"]["n_words"] == 1 and rows["punct"]["n_subwords"] == 3
    assert rows["punct"]["fertility"] == 3.0
    assert rows["ok"]["fertility"] == 1.0
    rel = con.sql(entry_mod.oracle_sql()["corpus_tokenizer_fertility"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_kmeans_identical_vectors_degenerate(spark, tmp_path):
    """All-identical embeddings: every distance ties at 0, the argmin
    tie-break sends every vector to cluster 0, empty clusters drop on
    both engines, and SSE is exactly 0."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.embed import COV_DIM, embed_kmeans_sse

    vecs = [[0.5] * COV_DIM for _ in range(12)]
    table = pa.table(
        {
            "vec_id": pa.array(range(12), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * 12, pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    sdf = embed_kmeans_sse(spark, str(tmp_path))
    rows = sdf.collect()
    assert len(rows) == 1
    assert rows[0]["cluster"] == 0 and rows[0]["n_vecs"] == 12
    assert rows[0]["sse_fp"] == 0
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["embed_kmeans_sse"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_runs_test_constant_revenue_degenerate(spark, tmp_path):
    """Convention #9: a constant daily revenue series makes every day
    equal the median — all days excluded, zero runs, NULL z — with no
    division error on either engine."""
    import datetime

    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.stats import stats_runs_test

    days = [datetime.datetime(1995, 1, 1) + datetime.timedelta(days=i) for i in range(10)]
    table = pa.table(
        {
            "o_orderkey": pa.array(range(10), pa.int64()),
            "o_custkey": pa.array([1] * 10, pa.int64()),
            "o_orderstatus": pa.array(["F"] * 10, pa.string()),
            "o_totalprice": pa.array([100.0] * 10, pa.float64()),
            "o_orderdate": pa.array(days, pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * 10, pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "orders.parquet"))
    sdf = stats_runs_test(spark, str(tmp_path))
    rows = sdf.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_days"] == 0 and r["n_runs"] == 0 and r["z"] is None
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["stats_runs_test"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_feature_asof_no_leakage(spark, tmp_path):
    """The feature-store leakage pin: a view at the SAME microsecond as
    the label must NOT count (frame ends at 1 us preceding), a view 1 us
    before counts, a view outside 7 d does not, and a prior purchase
    within 30 d lands in buy_cents_30d while the label itself never
    does. The DuckDB oracle replays the same frames to the same rows."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.events import events_feature_asof

    base = 1_600_000_000_000_000  # epoch us
    day = 86_400_000_000
    rows = [
        # (event_id, us, user, type, value)
        (1, base, 7, "purchase", 10.0),              # label
        (2, base, 7, "view", None),                  # same us -> excluded
        (3, base - 1, 7, "view", None),              # 1 us before -> counts
        (4, base - 7 * day, 7, "view", None),        # exactly 7d -> counts
        (5, base - 7 * day - 1, 7, "view", None),    # outside 7d -> no
        (6, base - 2 * day, 7, "click", None),       # counts
        (7, base - 29 * day, 7, "purchase", 2.5),    # prior spend 250c
        (8, base - 31 * day, 7, "purchase", 99.0),   # outside 30d -> no
        (9, base - 1 * day, 8, "view", None),        # other user
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    sdf = events_feature_asof(spark, str(tmp_path))
    got = {r["event_id"]: r for r in sdf.collect()}
    assert set(got) == {1, 7, 8}
    lab = got[1]
    assert lab["n_view_7d"] == 2          # events 3 and 4 only
    assert lab["n_click_7d"] == 1
    assert lab["n_error_7d"] == 0
    assert lab["buy_cents_30d"] == 250    # event 7 only
    assert lab["label_cents"] == 1000
    # event 7's trailing 30d window spans (base-59d, base-29d); event 8
    # at base-31d falls inside it, event 1 (the later label) does not:
    assert got[7]["buy_cents_30d"] == 9900
    assert got[8]["buy_cents_30d"] == 0

    con = ddb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["events_feature_asof"])
    scols = [c.lower() for c in sdf.columns]
    ocols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(ocols)
    assert _norm(scols, [tuple(r) for r in sdf.collect()]) == _norm(
        ocols, rel.fetchall()
    )


def test_late_arriving_dim_reconciles(spark, sf_dir):
    """Late-arriving-dim invariants: grand totals (orders, customers'
    order rows, revenue) are identical across the two states — only the
    segment attribution moves; the inferred UNKNOWN bucket exists at
    the cutoff state and never after backfill."""
    from catme_etl_j_spark.operators.etl import etl_late_arriving_dim

    rows = etl_late_arriving_dim(spark, sf_dir).collect()
    by_state: dict = {}
    for r in rows:
        st = by_state.setdefault(r["state"], {"orders": 0, "rev": 0.0, "segs": set()})
        st["orders"] += r["n_orders"]
        st["rev"] += r["revenue"]
        st["segs"].add(r["mktsegment"])
    assert set(by_state) == {"at_cutoff", "backfilled"}
    a, b = by_state["at_cutoff"], by_state["backfilled"]
    assert a["orders"] == b["orders"]
    assert abs(a["rev"] - b["rev"]) < 1e-6
    assert "UNKNOWN" in a["segs"]
    assert "UNKNOWN" not in b["segs"]


def test_deletion_propagation_referential(spark, sf_dir):
    """Independent referential check (anti-join, a different plan than
    the operator's left join): the surviving lineitem count equals the
    anti-join of lineitem against deleted orders, and the cascade's
    per-table arithmetic is consistent."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.operators.etl import (
        DEL_MOD,
        etl_deletion_propagation,
    )
    from catme_etl_j_spark.sources.tables import load_table

    rows = {r["tbl"]: r for r in etl_deletion_propagation(spark, sf_dir).collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    for r in rows.values():
        assert r["n_after"] == r["n_before"] - r["n_deleted"]
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    del_orders = orders.filter(F.col("o_custkey") % DEL_MOD == 0).select(
        "o_orderkey"
    )
    survivors = li.join(
        del_orders, li.l_orderkey == del_orders.o_orderkey, "left_anti"
    ).count()
    assert survivors == rows["lineitem"]["n_after"]
    assert rows["customer"]["deleted_amount"] is None


def test_token_budget_mix_greedy_invariants(spark, sf_dir):
    """The allocation is a proper greedy prefix: in rank order the
    statuses are full* partial? excluded*, every take is bounded by
    supply, and the takes sum exactly to the budget (60% of total
    tokens, integer DIV) whenever anything was excluded."""
    from catme_etl_j_spark.operators.corpus import (
        MIX_BUDGET_PCT,
        corpus_token_budget_mix,
    )

    rows = sorted(
        corpus_token_budget_mix(spark, sf_dir).collect(),
        key=lambda r: r["mix_rank"],
    )
    assert [r["mix_rank"] for r in rows] == list(range(1, len(rows) + 1))
    # quality non-increasing in rank order
    q = [r["quality_ppm"] for r in rows]
    assert q == sorted(q, reverse=True)
    # status shape: full* partial? excluded*
    statuses = [r["status"] for r in rows]
    import re

    assert re.fullmatch(r"(full,)*(partial,)?(excluded,)*", ",".join(statuses) + ","), statuses
    for r in rows:
        assert 0 <= r["tokens_taken"] <= r["tokens_available"]
        if r["status"] == "full":
            assert r["tokens_taken"] == r["tokens_available"]
        elif r["status"] == "excluded":
            assert r["tokens_taken"] == 0
        else:
            assert 0 < r["tokens_taken"] < r["tokens_available"]
    total = sum(r["tokens_available"] for r in rows)
    budget = total * MIX_BUDGET_PCT // 100
    taken = sum(r["tokens_taken"] for r in rows)
    if any(s != "full" for s in statuses):
        assert taken == budget, (taken, budget)
    else:
        assert taken == total


def test_drawdown_zero_peak_degenerate(spark, tmp_path):
    """ADVICE r8 #1: days whose running revenue peak is exactly zero
    (o_totalprice = 0.0 is in-contract) have no defined drawdown —
    the ratio must be NULL on both engines (not an ANSI 0/0 crash),
    with NULLS LAST pinned so positive-drawdown days still lead."""
    import datetime

    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.relational3 import window_max_drawdown

    days = [datetime.datetime(1995, 1, 1) + datetime.timedelta(days=i) for i in range(6)]
    # first two days sum to 0.00 -> running peak 0 there; then a real
    # peak (300) and a collapse (30) -> drawdown 0.9 leads the top-k
    prices = [0.0, 0.0, 300.0, 30.0, 150.0, 300.0]
    table = pa.table(
        {
            "o_orderkey": pa.array(range(6), pa.int64()),
            "o_custkey": pa.array([1] * 6, pa.int64()),
            "o_orderstatus": pa.array(["F"] * 6, pa.string()),
            "o_totalprice": pa.array(prices, pa.float64()),
            "o_orderdate": pa.array(days, pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * 6, pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "orders.parquet"))
    sdf = window_max_drawdown(spark, str(tmp_path))
    rows = sdf.collect()
    assert len(rows) == 6
    by_day = {r["day"]: r for r in rows}
    assert by_day["1995-01-01"]["drawdown_ppm"] is None
    assert by_day["1995-01-02"]["drawdown_ppm"] is None
    assert rows[0]["day"] == "1995-01-04" and rows[0]["drawdown_ppm"] == 900000
    # NULLS LAST: the two zero-peak days close the ranking on BOTH engines
    assert [r["day"] for r in rows[-2:]] == ["1995-01-01", "1995-01-02"]
    con = ddb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'")
    rel = con.sql(entry_mod.oracle_sql()["window_max_drawdown"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_query_likelihood_all_empty_corpus(spark, tmp_path):
    """ADVICE r8 #2: an ALL-empty-text corpus makes c_tot + v = 0 and
    mu_p infinite — ln/floor/CAST must not crash; every score degrades
    to NULL identically on both engines and the doc_id tie-break alone
    orders the top-k."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.ranking import rank_query_likelihood

    n = 5
    table = pa.table(
        {
            "doc_id": pa.array(range(1, n + 1), pa.int64()),
            "text": pa.array(["", "   ", "", " ", ""]),
            "lang": pa.array(["en"] * n),
            "source": pa.array(["web"] * n),
            "n_chars": pa.array([0, 3, 0, 1, 0], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    sdf = rank_query_likelihood(spark, str(tmp_path))
    rows = sdf.collect()  # must not crash
    assert [r["doc_id"] for r in rows] == list(range(1, n + 1))
    assert all(r["score_e9"] is None and r["ql_score"] is None for r in rows)
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["rank_query_likelihood"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_kmeans_seeds_skip_empty_embedding(spark, tmp_path):
    """ADVICE r8 #3: a vec_id with an EMPTY embedding array exists in
    the embeddings table but yields no posexploded components — it must
    not seed (or be scored by) k-means on either engine. Pre-fix the
    DuckDB twin seeded from the raw table and generated NULL-component
    rows, so the smallest vec_id being empty flipped every seed."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.embed import COV_DIM, embed_kmeans_sse

    vecs = [[]]  # vec_id 0: empty array -> must NOT seed
    for k in range(1, 12):
        v = [0.0] * COV_DIM
        v[0] = float(k)
        v[5] = (k % 4) / 2.0
        vecs.append(v)
    table = pa.table(
        {
            "vec_id": pa.array(range(12), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([k % 4 for k in range(12)], pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    sdf = embed_kmeans_sse(spark, str(tmp_path))
    rows = sdf.collect()
    assert sum(r["n_vecs"] for r in rows) == 11  # empty vector never assigned
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["embed_kmeans_sse"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_selfcheck_skip_governance():
    """VERDICT r8 #3: SELFCHECK_SKIP is reserved for explicit
    scale/stress probe modes. Every evidence-bearing mode — default,
    vanilla-session, TZ/cpus stress, degenerate-probe — must REFUSE a
    skip set loudly (exit 2 before any query runs), so a red query can
    never be silently truncated out of a contract sweep."""
    import importlib.util
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "selfcheck_mod2", os.path.join(repo, "tools", "selfcheck.py")
    )
    sc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sc)

    # policy pin: the allowed set is exactly the scale-probe prefix
    assert sc.SKIP_ALLOWED_MODE_PREFIXES == ("scale-probe",)
    for mode in ("default", "vanilla-session", "tz=America/New_York",
                 "cpus=7", "degenerate-probe", "vanilla-session+cpus=7"):
        assert not sc.skip_allowed(mode), mode
    for mode in ("scale-probe-sf1.0-full", "scale-probe-sf0.3-graphs"):
        assert sc.skip_allowed(mode), mode

    # end-to-end: a default-mode sweep with SELFCHECK_SKIP set fails
    # loudly before spinning up a session
    env = {**os.environ, "SELFCHECK_SKIP": "q01_pricing_summary"}
    env.pop("SELFCHECK_MODE", None)
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "selfcheck.py"),
         "/root/testdata/sf0.001", "q01_pricing_summary"],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, (proc.returncode, proc.stdout[-500:])
    assert "not allowed" in proc.stdout


def test_dedup_paragraphs_hand_fixture(spark, tmp_path):
    """Keep-first paragraph dedup on a constructed corpus: doc 1 owns
    paragraphs A+B; doc 2 repeats A (duplicate) and adds C; doc 3 is
    A+B wholesale (all duplicate); doc 4 is empty (0 paragraphs, NULL
    kept_frac). First occurrence is (doc_id, pos)-minimal."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.corpus import PARA_W, corpus_dedup_paragraphs

    para_a = " ".join(f"a{i}" for i in range(PARA_W))
    para_b = " ".join(f"b{i}" for i in range(PARA_W))
    para_c = " ".join(f"c{i}" for i in range(PARA_W))
    texts = [
        f"{para_a} {para_b}",
        f"{para_a} {para_c}",
        f"{para_a} {para_b}",
        "",
    ]
    table = pa.table(
        {
            "doc_id": pa.array(range(1, 5), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * 4),
            "source": pa.array(["web"] * 4),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    sdf = corpus_dedup_paragraphs(spark, str(tmp_path))
    rows = {r["doc_id"]: r for r in sdf.collect()}
    assert rows[1]["n_paras"] == 2 and rows[1]["n_dup_paras"] == 0
    assert rows[2]["n_paras"] == 2 and rows[2]["n_dup_paras"] == 1
    assert rows[2]["dup_words"] == PARA_W
    assert rows[3]["n_paras"] == 2 and rows[3]["n_dup_paras"] == 2
    assert rows[3]["kept_frac"] == 0.0
    assert rows[4]["n_paras"] == 0 and rows[4]["kept_frac"] is None
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["corpus_dedup_paragraphs"])
    assert _norm(
        [c.lower() for c in sdf.columns],
        [tuple(r) for r in sdf.collect()],
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_quality_classifier_orders_sensibly(spark, tmp_path):
    """The frozen-weight logit must rank an English-looking, stopword-
    bearing, non-repetitive doc above a one-word and an empty doc, and
    the kept flag must equal logit_e6 >= 0 — with the DuckDB twin
    hash-matching on the same corpus."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.text import text_quality_classifier

    good = " ".join(
        ["the quick brown fox jumps over the lazy dog and runs far"] * 12
    )
    texts = [good, "word", "", "zzzz " * 40]
    table = pa.table(
        {
            "doc_id": pa.array(range(1, 5), pa.int64()),
            "text": pa.array([t.strip() for t in texts]),
            "lang": pa.array(["en"] * 4),
            "source": pa.array(["web"] * 4),
            "n_chars": pa.array([len(t.strip()) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    sdf = text_quality_classifier(spark, str(tmp_path))
    rows = {r["doc_id"]: r for r in sdf.collect()}
    assert rows[1]["logit_e6"] > rows[2]["logit_e6"]
    assert rows[1]["logit_e6"] > rows[3]["logit_e6"]
    assert rows[1]["logit_e6"] > rows[4]["logit_e6"]  # pure repetition
    for r in rows.values():
        assert r["kept"] == int(r["logit_e6"] >= 0)
        assert 0.0 <= r["quality_prob"] <= 1.0
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["text_quality_classifier"])
    assert _norm(
        [c.lower() for c in sdf.columns],
        [tuple(r) for r in sdf.collect()],
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_bootstrap_ci_empty_and_ordering(spark, tmp_path):
    """stats_bootstrap_ci degenerate + sanity: an EMPTY orders table
    yields one all-NULL-statistics row (n_days = 0, no sequence(0,-1)
    crash — convention #9) on both engines; on a real fixture the
    rank-picked bounds must bracket sensibly (lo <= hi)."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.stats import stats_bootstrap_ci

    table = pa.table(
        {
            "o_orderkey": pa.array([], pa.int64()),
            "o_custkey": pa.array([], pa.int64()),
            "o_totalprice": pa.array([], pa.float64()),
            "o_orderdate": pa.array([], pa.timestamp("us")),
        }
    )
    pq.write_table(table, str(tmp_path / "orders.parquet"))
    sdf = stats_bootstrap_ci(spark, str(tmp_path))
    rows = sdf.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_days"] == 0 and r["b_reps"] == 40
    assert r["mean_cents"] is None and r["ci_lo_cents"] is None
    con = ddb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'")
    rel = con.sql(entry_mod.oracle_sql()["stats_bootstrap_ci"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())

    full = stats_bootstrap_ci(spark, "/root/testdata/sf0.001").collect()[0]
    assert full["ci_lo_cents"] <= full["ci_hi_cents"]
    assert full["n_days"] > 0


def test_compaction_planner_hand_fixture(spark, tmp_path):
    """Known file sizes must pack largest-first into cum-before DIV T
    bins. Files (in one partition): bytes 10*128, 8*128, 7*128, 5*128
    = 1280/1024/896/640; with T = 4_000_000 they all fit bin 0 — so
    shrink the check to arithmetic identities: bin assignment follows
    the (bytes DESC, file_id ASC) running sum on BOTH engines."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.scale import (
        CP_FILE_ORDERS,
        CP_ROW_BYTES,
        scale_merge_binpack,
    )

    # file i holds orderkeys [i*CP_FILE_ORDERS, ...): give files 0..3
    # row counts 10, 8, 7, 5
    keys = []
    for fid, n in enumerate((10, 8, 7, 5)):
        keys += [fid * CP_FILE_ORDERS + 1] * n
    table = pa.table({"l_orderkey": pa.array(keys, pa.int64())})
    pq.write_table(table, str(tmp_path / "lineitem.parquet"))
    sdf = scale_merge_binpack(spark, str(tmp_path))
    rows = sdf.collect()
    assert len(rows) == 1  # everything packs into partition 0, bin 0
    r = rows[0]
    assert r["n_files"] == 4
    assert r["bin_bytes"] == (10 + 8 + 7 + 5) * CP_ROW_BYTES
    assert r["n_small_in"] == 4
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["scale_merge_binpack"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(r) for r in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_kendall_tau_hand_fixture(spark, tmp_path):
    """Kendall tau-b on a constructed 3-nation frame with one exact
    x-tie (decided by cross-multiplication, no division): nation 1
    mean bal 200 / rev 500, nation 2 mean 100 / rev 100, nation 3
    mean 200 / rev 0 -> C=1 (1,2), D=1 (2,3), x-tie (1,3):
    tau = 0 / sqrt(2*3) = 0. Empty tables -> NULL tau, zero counts.
    Both engines hash-match on the fixture."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.stats import stats_kendall_tau

    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 2, 3, 4], pa.int64()),
                "c_nationkey": pa.array([1, 1, 2, 3], pa.int64()),
                "c_acctbal": pa.array([100.0, 300.0, 100.0, 200.0]),
            }
        ),
        str(tmp_path / "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([10, 11], pa.int64()),
                "o_custkey": pa.array([1, 3], pa.int64()),
                "o_totalprice": pa.array([500.0, 100.0]),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    sdf = stats_kendall_tau(spark, str(tmp_path))
    r = sdf.collect()[0]
    assert r["n_groups"] == 3 and r["n_pairs"] == 3
    assert r["concordant"] == 1 and r["discordant"] == 1
    assert r["tau_b"] == 0.0
    con = ddb.connect()
    for t in ("customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    rel = con.sql(entry_mod.oracle_sql()["stats_kendall_tau"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(x) for x in sdf.collect()]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_kendall_tau_empty_tables(spark, tmp_path):
    """Convention #9: zero groups -> one row, zero counts, NULL tau."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catme_etl_j_spark.operators.stats import stats_kendall_tau

    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([], pa.int64()),
                "c_nationkey": pa.array([], pa.int64()),
                "c_acctbal": pa.array([], pa.float64()),
            }
        ),
        str(tmp_path / "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([], pa.int64()),
                "o_custkey": pa.array([], pa.int64()),
                "o_totalprice": pa.array([], pa.float64()),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    rows = stats_kendall_tau(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_groups"] == 0 and r["n_pairs"] == 0
    assert r["tau_b"] is None


def test_permutation_test_empty_and_sanity(spark, tmp_path):
    """stats_permutation_test degenerate: EMPTY orders -> one row with
    n_days = 0 and NULL statistic/p-value on both engines; at sf0.001
    the add-one estimator is bounded in [1/(K+1), 1]."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.stats import PERM_K, stats_permutation_test

    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([], pa.int64()),
                "o_totalprice": pa.array([], pa.float64()),
                "o_orderdate": pa.array([], pa.timestamp("us")),
                "o_orderpriority": pa.array([], pa.string()),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    sdf = stats_permutation_test(spark, str(tmp_path))
    rows = sdf.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_days"] == 0 and r["t_obs_cents"] is None
    assert r["p_value"] is None
    con = ddb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'")
    rel = con.sql(entry_mod.oracle_sql()["stats_permutation_test"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(x) for x in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())

    full = stats_permutation_test(spark, "/root/testdata/sf0.001").collect()[0]
    assert full["n_days"] > 0 and full["t_obs_cents"] >= 0
    # rdet floors to 6 decimals, so allow one rounding quantum below
    assert 1.0 / (PERM_K + 1) - 1e-6 <= full["p_value"] <= 1.0


def test_cdc_chunking_shift_robustness(spark, tmp_path):
    """The defining CDC property (LBFS/rsync): inserting a word at the
    FRONT of a document must leave every chunk after the first content
    boundary intact — so the shifted copy SHARES fingerprints with the
    original, which fixed-window chunking can never do. Also: empty
    text chunks to nothing; a sub-gram-width doc is one single chunk.
    Cross-engine hash compare on the same corpus."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.corpus import corpus_cdc_chunking

    base = " ".join(f"w{i * 7 % 311}x{i}" for i in range(400))
    texts = [base, "inserted " + base, "", "one two"]
    table = pa.table(
        {
            "doc_id": pa.array(range(1, 5), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * 4),
            "source": pa.array(["web"] * 4),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    sdf = corpus_cdc_chunking(spark, str(tmp_path))
    rows = sdf.collect()
    shared = [r for r in rows if r["n_docs"] == 2]
    # docs 1 and 2 must re-synchronize after the first boundary
    assert len(shared) >= 1, rows
    assert all(r["n_copies"] <= 2 for r in rows)
    # the empty doc contributes nothing; doc 4 is a single 2-word chunk
    assert any(r["n_words"] == 2 and r["n_copies"] == 1 for r in rows)
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["corpus_cdc_chunking"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(x) for x in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_smart_lnc_ltc_ranks_query_heavy_doc_first(spark, tmp_path):
    """SMART lnc.ltc sanity: a document dense in the query terms must
    outrank one that only brushes them; docs matching NO query term
    (or empty) never appear. Cross-engine hash compare included."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.ranking import rank_smart_lnc_ltc

    texts = [
        "join vector stream join vector stream join",
        "join alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta",
        "",
    ]
    table = pa.table(
        {
            "doc_id": pa.array(range(1, 5), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * 4),
            "source": pa.array(["web"] * 4),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    sdf = rank_smart_lnc_ltc(spark, str(tmp_path))
    rows = sdf.collect()
    assert [r["doc_id"] for r in rows] == [1, 2]
    assert rows[0]["smart_score"] > rows[1]["smart_score"] > 0.0
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    rel = con.sql(entry_mod.oracle_sql()["rank_smart_lnc_ltc"])
    assert _norm(
        [c.lower() for c in sdf.columns], [tuple(x) for x in rows]
    ) == _norm([c.lower() for c in rel.columns], rel.fetchall())


def test_bollinger_bands_invariants(spark, sf_dir):
    """Window never exceeds 20 days; bands are symmetric about the MA
    (within output rounding); warm-up day 1 has sigma 0 and band_pos
    'in'; band_pos agrees with the unrounded compare reconstructed
    from exact daily cents."""
    from catme_etl_j_spark.operators.relational3 import (
        BOLL_K,
        BOLL_WINDOW_DAYS,
        window_bollinger_bands,
    )

    rows = window_bollinger_bands(spark, sf_dir).collect()
    assert rows
    assert all(1 <= r["n_days_in_window"] <= BOLL_WINDOW_DAYS for r in rows)
    first = rows[0]
    assert first["n_days_in_window"] == 1
    assert first["sigma"] == 0.0 and first["band_pos"] == "in"
    for r in rows:
        assert abs((r["upper_band"] + r["lower_band"]) - 2 * r["ma20"]) < 2e-4
        assert r["lower_band"] <= r["ma20"] <= r["upper_band"]
        # rounded-value consistency: a breach visible at 4dp must be
        # flagged, and flags never contradict the rounded bands by
        # more than the rounding quantum
        if r["revenue"] > r["upper_band"] + 1e-4:
            assert r["band_pos"] == "above"
        if r["revenue"] < r["lower_band"] - 1e-4:
            assert r["band_pos"] == "below"
    assert any(r["band_pos"] != "in" for r in rows), (
        "sf0.001 daily revenue should breach a 2-sigma band somewhere"
    )


def test_kneser_ney_matches_python_recompute(spark, sf_dir):
    """Every reported bigram's P_KN equals the exact-rational Python
    recompute from raw corpus tokenization, and continuation mass is
    ranked by distinct-context counts (n1b), not raw frequency."""
    import math
    import re
    from collections import Counter, defaultdict

    from catme_etl_j_spark.operators.text import (
        KN_MIN_CONTEXT,
        text_kneser_ney_bigram,
    )
    from catme_etl_j_spark.sources.tables import load_table

    rows = text_kneser_ney_bigram(spark, sf_dir).collect()
    assert rows
    texts = [
        r["text"]
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    c12 = Counter()
    for t in texts:
        w = [x for x in re.split(r" +", t.strip()) if x != ""]
        for a, b in zip(w, w[1:]):
            c12[(a, b)] += 1
    c1 = defaultdict(int)
    n1f = defaultdict(int)
    n1b = defaultdict(int)
    for (a, b), c in c12.items():
        c1[a] += c
        n1f[a] += 1
        n1b[b] += 1
    d_types = len(c12)
    for r in rows:
        a, b = r["gram"].split(" ")
        assert r["c12"] == c12[(a, b)]
        assert r["c1"] == c1[a] and r["c1"] >= KN_MIN_CONTEXT
        assert r["n1f"] == n1f[a] and r["n1b"] == n1b[b]
        assert r["d_types"] == d_types
        want = ((4 * r["c12"] - 3) * d_types + 3 * r["n1f"] * r["n1b"]) / (
            4 * r["c1"] * d_types
        )
        assert r["p_kn"] == math.floor(want * 1e8 + 0.5) / 1e8
        assert 0 < r["p_kn"] <= 1 + 1e-9


def test_linear_counting_merge_and_accuracy(spark, sf_dir):
    """bits_set <= n_exact per group; the merged row unions bitmaps
    (bits_set <= sum of per-group bits, n_exact = true global
    distinct); the estimate replays m*ln(m/z) exactly and stays within
    1% of truth at the test load factor."""
    import math

    from catme_etl_j_spark.operators.sketch import (
        LC_M,
        MERGED_KEY,
        sketch_linear_counting,
    )

    rows = sketch_linear_counting(spark, sf_dir).collect()
    groups = [r for r in rows if r["grp"] != MERGED_KEY]
    [m] = [r for r in rows if r["grp"] == MERGED_KEY]
    assert groups
    for r in rows:
        assert 1 <= r["bits_set"] <= r["n_exact"]
        z = LC_M - r["bits_set"]
        want = math.floor(LC_M * math.log(LC_M / z) * 1e4 + 0.5) / 1e4
        assert r["lc_estimate"] == want
        assert abs(r["err_pct"]) < 1.0
    assert m["bits_set"] <= sum(r["bits_set"] for r in groups)
    assert m["n_exact"] <= sum(r["n_exact"] for r in groups)


def test_decontaminate_13gram_subset_of_8gram(spark, sf_dir):
    """A shared 13-gram contains shared 8-grams, so the 13-gram flag
    set must be a SUBSET of the 8-gram flag set per eval doc (the
    published-standard width only flags near-verbatim inclusion), and
    per-doc gram counts shrink by exactly the width difference for
    docs long enough to have both."""
    from catme_etl_j_spark.operators.corpus import (
        corpus_decontaminate,
        corpus_decontaminate_13gram,
    )

    by8 = {r["doc_id"]: r for r in corpus_decontaminate(spark, sf_dir).collect()}
    by13 = {
        r["doc_id"]: r for r in corpus_decontaminate_13gram(spark, sf_dir).collect()
    }
    assert set(by8) == set(by13)  # same eval split
    for did, r13 in by13.items():
        r8 = by8[did]
        if r13["contaminated"]:
            assert r8["contaminated"], did
        # distinct-gram counts: a doc with w words has w-n+1 grams
        # (before dedup), so n_grams_13 <= n_grams_8 always
        assert r13["n_grams"] <= r8["n_grams"], did


def test_doremi_mixture_weights_normalize_and_downweight(spark, sf_dir):
    """Weights renormalize to ~1e6 ppm (exact up to per-source
    truncation), every weight is nonnegative, and the multiplicative
    step moves weight AGAINST redundancy: relative to baseline, a
    source with above-average excess loses share and one with
    below-average excess gains (weight/baseline ordering follows
    excess order for equal-token sources; globally we pin the sum and
    the direction of the extreme movers)."""
    from catme_etl_j_spark.operators.corpus import corpus_doremi_mixture

    rows = corpus_doremi_mixture(spark, sf_dir).collect()
    assert rows
    n = len(rows)
    tot_w = sum(r["weight_ppm"] for r in rows)
    tot_b = sum(r["baseline_ppm"] for r in rows)
    assert 1_000_000 - n <= tot_w <= 1_000_000
    assert 1_000_000 - n <= tot_b <= 1_000_000
    for r in rows:
        assert r["weight_ppm"] >= 0 and r["baseline_ppm"] >= 0
        assert 0 <= r["excess_ppm"] <= 1_000_000
        assert r["n_tokens"] >= r["n_docs"]  # empty text still counts 1
    if len({r["excess_ppm"] for r in rows}) > 1:
        hi = max(rows, key=lambda r: (r["excess_ppm"], r["source"]))
        lo = min(rows, key=lambda r: (r["excess_ppm"], r["source"]))
        # the most-redundant source's weight:baseline ratio is <= the
        # least-redundant one's (cross-multiplied to stay integer)
        assert (
            hi["weight_ppm"] * lo["baseline_ppm"]
            <= lo["weight_ppm"] * hi["baseline_ppm"]
        )


def test_url_keep_first_canonical_and_minimal(spark, sf_dir):
    """Every canonical url is scheme-less, www-less, query-less and
    has no trailing slash; kept_doc_id is the group minimum; variant
    counts conserve the corpus row count; and at least one group
    actually collapses multiple crawl variants (the operator dedups,
    not just relabels)."""
    from catme_etl_j_spark.operators.dedup import dedup_url_keep_first
    from catme_etl_j_spark.sources.tables import load_table

    rows = dedup_url_keep_first(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_variants"] for r in rows) == n_docs
    assert any(r["n_variants"] > 1 for r in rows)
    for r in rows:
        u = r["canonical_url"]
        assert not u.startswith(("http://", "https://", "www."))
        assert "?" not in u and "#" not in u
        assert not u.endswith("/")
        assert u == u.lower()
        assert r["n_dropped"] == r["n_variants"] - 1
        assert r["kept_doc_id"] >= 0


def test_decontaminate_vs_matches_python_reference(spark, sf_dir):
    """corpus_decontaminate_vs against a brute-force Python reference
    at sf0.001: train excludes exactly the src0 benchmark docs, and a
    train doc is contaminated iff it shares a word 8-gram with ANY
    src0 doc (distinct-gram counting, under-8-word docs have zero
    grams)."""
    import hashlib

    from catme_etl_j_spark.operators.corpus import (
        DECON_EVAL_SOURCE,
        DECON_N,
        corpus_decontaminate_vs,
    )
    from catme_etl_j_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    ).collect()

    def grams(text):
        w = text.strip().split()
        w = [x for x in w if x]
        return {
            hashlib.md5(" ".join(w[i : i + DECON_N]).encode()).hexdigest()
            for i in range(len(w) - DECON_N + 1)
        }

    eval_grams = set()
    for d in docs:
        if d["source"] == DECON_EVAL_SOURCE:
            eval_grams |= grams(d["text"])
    expect = {}
    for d in docs:
        if d["source"] == DECON_EVAL_SOURCE:
            continue
        g = grams(d["text"])
        expect[d["doc_id"]] = (len(g), len(g & eval_grams))

    rows = {r["doc_id"]: r for r in corpus_decontaminate_vs(spark, sf_dir).collect()}
    assert set(rows) == set(expect)
    for doc_id, (n_g, n_hit) in expect.items():
        r = rows[doc_id]
        assert r["n_grams"] == n_g, doc_id
        assert r["n_contaminated"] == n_hit, doc_id
        assert r["contaminated"] == (1 if n_hit > 0 else 0)


def test_semdedup_drop_rule_matches_python_reference(spark, sf_dir):
    """dedup_semdedup_prune at sf0.001 vs a brute-force reference:
    (a) every vector's cluster/d comes from the same integer Lloyd
    assignment as embed_kmeans_sse (cluster sizes agree), (b) a vector
    is dropped iff SOME more-central pool member of its cluster has
    rdet6 cosine >= SEM_TAU with it (pool = SEM_POOL_CAP most central),
    so the most central member of each cluster is never dropped, and
    (c) zero-norm vectors are never dropped."""
    import math

    from catme_etl_j_spark.operators.dedup import (
        SEM_POOL_CAP,
        SEM_TAU,
        dedup_semdedup_prune,
    )
    from catme_etl_j_spark.operators.embed import _km_assign

    out = {r["vec_id"]: r for r in dedup_semdedup_prune(spark, sf_dir).collect()}
    comp, assign = _km_assign(spark, sf_dir)
    qx = {}
    for r in comp.collect():
        qx.setdefault(r["vec_id"], {})[r["i"]] = r["q"]
    by_cluster = {}
    for r in assign.collect():
        v = r["vec_id"]
        assert out[v]["cluster"] == r["cluster"]
        assert out[v]["d_fp"] == r["d"]
        by_cluster.setdefault(r["cluster"], []).append((r["d"], v))
    for cl, members in by_cluster.items():
        members.sort()
        pool = members[:SEM_POOL_CAP]
        for rank, (d, v) in enumerate(members):
            vec = [q for _, q in sorted(qx[v].items())]
            nv = math.sqrt(sum(x * x for x in vec))
            expected_drop = 0
            if nv > 0:
                for pd, pv in pool:
                    if (pd, pv) >= (d, v):
                        break
                    pvec = [q for _, q in sorted(qx[pv].items())]
                    np_ = math.sqrt(sum(x * x for x in pvec))
                    if np_ == 0:
                        continue
                    dot = sum(a * b for a, b in zip(vec, pvec))
                    cos = math.floor((dot / (nv * np_)) * 1e6 + 0.5) / 1e6
                    if cos >= SEM_TAU:
                        expected_drop = 1
                        break
            assert out[v]["dropped"] == expected_drop, (cl, v)
        # the most central member always survives
        assert out[members[0][1]]["dropped"] == 0
