"""PageRank invariants (value equality vs DuckDB covered by selfcheck)."""

from catme_etl_j_spark.operators.graph import PR_SCALE, graph_pagerank_nations


import pytest

# Deep/expensive class (plan pins, iterative loops, streaming waits):
# excluded from the fast gate `pytest -m "not slow"`; the FULL suite
# (including these) runs at round close.
pytestmark = pytest.mark.slow


def test_pagerank_mass_and_order(spark, sf_dir):
    rows = graph_pagerank_nations(spark, sf_dir).collect()
    assert len(rows) == 25
    total = sum(r["rank_e9"] for r in rows)
    # integer floors only ever LOSE mass: sum <= SCALE, but stays close
    assert total <= PR_SCALE
    assert total > PR_SCALE * 0.9
    ranks = [r["rank_e9"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r["rank_e9"] > 0 for r in rows)
    for r in rows:
        assert abs(r["rank"] - r["rank_e9"] / PR_SCALE) < 1e-12


def test_common_neighbors_jaccard_bounds(spark, sf_dir):
    from catme_etl_j_spark.operators.graph import graph_common_neighbors

    rows = graph_common_neighbors(spark, sf_dir).collect()
    assert len(rows) == 15
    keys = [(-r["jaccard"], r["nation_a"], r["nation_b"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r["nation_a"] < r["nation_b"]
        assert 0 < r["jaccard"] <= 1.0
        assert r["common"] >= 1


def test_bfs_levels_consistent(spark, sf_dir):
    """BFS invariants: exactly one source at distance 0; every node at
    distance d>0 has an in-neighbor at d-1 in the backbone; distances
    vary (the backbone is genuinely sparse)."""
    from pyspark.sql import functions as F

    from catme_etl_j_spark.operators.graph import _trade_edges, graph_bfs_backbone

    rows = graph_bfs_backbone(spark, sf_dir).collect()
    assert len(rows) == 25
    dists = {r["node"]: r["dist"] for r in rows}
    assert sum(1 for d in dists.values() if d == 0) == 1
    assert len({d for d in dists.values()}) >= 3  # 0, >=1, -1

    edges_all = _trade_edges(spark, sf_dir).collect()
    k = max(1, len(edges_all) // 20)
    thr = sorted((e["w"] for e in edges_all), reverse=True)[k - 1]
    bb = [e for e in edges_all if e["w"] >= thr]
    preds = {}
    for e in bb:
        preds.setdefault(e["dst"], set()).add(e["src"])
    for node, d in dists.items():
        if d > 0:
            assert any(dists[p] == d - 1 for p in preds.get(node, ())), node


def test_bfs_construction_schedules_no_count_jobs(spark, sf_dir):
    """Level emptiness is an observed count on each level's eager
    checkpoint (convention #16), not a count() probe job per level:
    no SQL execution run while building the query is a Dataset.count."""
    from catme_etl_j_spark.operators.graph import graph_bfs_backbone

    sc = spark.sparkContext
    desc = "bfs-count-probe"
    try:
        sc.setJobGroup("bfs-count-probe", desc)
        graph_bfs_backbone(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    actions = [
        execs.apply(i).details().split("\n")[0]
        for i in range(execs.size())
        if execs.apply(i).description() == desc
    ]
    assert any("localCheckpoint" in a for a in actions), actions
    assert not [a for a in actions if ".count(" in a], actions


def test_adamic_adar_dominates_common_neighbors(spark, sf_dir):
    """aa_fp grows with shared-neighbor count bounded by common *
    (1e9/ln 2); every listed pair has >=1 shared neighbor; ordering is
    (aa_fp DESC, a, b)."""
    import math

    from catme_etl_j_spark.operators.graph import graph_adamic_adar

    rows = graph_adamic_adar(spark, sf_dir).collect()
    assert rows
    max_w = math.floor(1e9 / math.log(2) + 0.5)
    for r in rows:
        assert r["common"] >= 1
        assert 0 < r["aa_fp"] <= r["common"] * max_w
        assert r["nation_a"] < r["nation_b"]
    keys = [(-r["aa_fp"], r["nation_a"], r["nation_b"]) for r in rows]
    assert keys == sorted(keys)


def test_lpa_communities_splits_bridged_clusters(spark, tmp_path):
    """Two tight triads joined by a single weak bridge must resolve to
    two size-3 communities, and the full label table must equal an
    independent pure-Python replay of the deterministic LPA rule
    (max total weight, smallest-label tie-break)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catme_etl_j_spark.operators.graph import LPA_ITERS, graph_lpa_communities

    seq = [1, 2, 3, 1, 2, 3, 1, 2, 3, 10, 11, 12, 10, 11, 12, 10, 11, 12]
    table = pa.table({
        "event_id": pa.array(range(len(seq)), pa.int64()),
        "ts": pa.array([i * 1_000_000 for i in range(len(seq))], pa.timestamp("us")),
        "user_id": pa.array(seq, pa.int64()),
        "event_type": pa.array(["view"] * len(seq)),
        "value": pa.array([1.0] * len(seq)),
        "props": pa.array(["{}"] * len(seq)),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))

    # independent replay of the same rule
    edges: dict = {}
    for a, b in zip(seq, seq[1:]):
        if a != b:
            edges[(a, b)] = edges.get((a, b), 0) + 1
    nbrs: dict = {}
    for (a, b), w in edges.items():
        nbrs.setdefault(a, {})[b] = nbrs.get(a, {}).get(b, 0) + w
        nbrs.setdefault(b, {})[a] = nbrs.get(b, {}).get(a, 0) + w
    lbl = {u: u for u in set(seq)}
    for k in range(1, LPA_ITERS + 1):
        new = {}
        for u in lbl:
            if u % 2 != k % 2:  # semi-synchronous: off-color keeps label
                new[u] = lbl[u]
                continue
            tw: dict = {}
            for v, w in nbrs.get(u, {}).items():
                tw[lbl[v]] = tw.get(lbl[v], 0) + w
            new[u] = min(
                (l for l in tw if tw[l] == max(tw.values())), default=lbl[u]
            ) if tw else lbl[u]
        lbl = new
    expect: dict = {}
    for u, l in lbl.items():
        expect[l] = expect.get(l, 0) + 1

    got = {
        r["community"]: r["size"]
        for r in graph_lpa_communities(spark, str(tmp_path)).collect()
    }
    assert got == expect
    assert sorted(got.values(), reverse=True)[:2] == [3, 3]
    assert len(got) == 2


def test_pagerank_users_empty_corpus(spark, tmp_path):
    """Degenerate corpus (conv. #9): zero events must yield zero rows on
    BOTH engines, not a ZeroDivisionError from the node-count scalar."""
    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    from catme_etl_j_spark.operators.graph import graph_pagerank_users

    table = pa.table({
        "event_id": pa.array([], pa.int64()),
        "ts": pa.array([], pa.timestamp("us")),
        "user_id": pa.array([], pa.int64()),
        "event_type": pa.array([], pa.string()),
        "value": pa.array([], pa.float64()),
        "props": pa.array([], pa.string()),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"))

    assert graph_pagerank_users(spark, str(tmp_path)).count() == 0
    con = ddb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    assert len(con.sql(entry_mod.oracle_sql()["graph_pagerank_users"]).fetchall()) == 0


def test_s_core_peeling_monotone(spark, sf_dir):
    """Peeling can only shrink: alive nodes, surviving edges, and
    surviving weight are non-increasing across rounds; once the core
    empties it stays empty; zero edges implies zero weight."""
    from catme_etl_j_spark.operators.graph import SCORE_ITERS, graph_s_core_peeling

    rows = sorted(
        graph_s_core_peeling(spark, sf_dir).collect(), key=lambda r: r["round"]
    )
    assert [r["round"] for r in rows] == list(range(1, SCORE_ITERS + 1))
    for a, b in zip(rows, rows[1:]):
        assert b["n_alive"] <= a["n_alive"]
        assert b["n_edges"] <= a["n_edges"]
        assert b["total_w"] <= a["total_w"]
        if a["n_alive"] == 0:
            assert b["n_alive"] == 0
    for r in rows:
        assert (r["n_edges"] == 0) == (r["total_w"] == 0)
        # an alive node needs strength >= s >= 1, hence >= 1 incident edge
        if r["n_alive"] > 0:
            assert r["n_edges"] > 0


def test_katz_matches_python_power_iteration(spark, sf_dir):
    """The fixed-point Katz ranks equal an exact Python replay of the
    KZ_ITERS integer rounds (same truncating per-edge division), and
    alpha_den is the max weighted in-strength + 1."""
    from collections import defaultdict

    from catme_etl_j_spark.operators.graph import (
        KZ_ITERS,
        KZ_SCALE,
        KZ_TOPK,
        _user_edges,
        graph_katz_centrality,
    )
    from catme_etl_j_spark.sources.tables import load_table

    rows = graph_katz_centrality(spark, sf_dir).collect()
    edges = [
        (r["src"], r["dst"], r["w"]) for r in _user_edges(spark, sf_dir).collect()
    ]
    nodes = {
        r["user_id"]
        for r in load_table(spark, sf_dir, "events")
        .filter("user_id IS NOT NULL")
        .select("user_id")
        .distinct()
        .collect()
    }
    instr = defaultdict(int)
    for _, d, w in edges:
        instr[d] += w
    alpha_den = max(instr.values(), default=0) + 1
    x = {n: KZ_SCALE for n in nodes}
    prev = None
    for k in range(KZ_ITERS):
        s = defaultdict(int)
        for u, d, w in edges:
            s[d] += (x[u] * w) // alpha_den  # positive operands: floor==trunc
        prev = x
        x = {n: KZ_SCALE + s.get(n, 0) for n in nodes}
    delta = sum(abs(x[n] - prev[n]) for n in nodes)
    want = sorted(x.items(), key=lambda kv: (-kv[1], kv[0]))[:KZ_TOPK]
    assert [(r["user_id"], r["katz_fp"]) for r in rows] == want
    assert all(r["alpha_den"] == alpha_den for r in rows)
    assert all(r["delta_fp_final"] == delta for r in rows)
    assert all(r["katz_fp"] >= KZ_SCALE for r in rows)
