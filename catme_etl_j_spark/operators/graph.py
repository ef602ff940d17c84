"""Iterative graph analytics: PageRank over the nation trade graph.

Complements the connected-components keep-one in operators/dedup.py as
the second iterative-algorithm surface. The distributed stage is the
edge extraction (a fact-table join that map-side combines to <=625
nation-pair keys); the power iteration then runs on that SF-invariant
aggregate driver-side — the "collect tiny state to literals" pattern,
chosen over per-round DataFrame joins (deep lineage) or localCheckpoint
(10 materialization jobs, measured 2x slower at sf0.1). A graph whose
node count scales with the data instead keeps per-round
ranks-onto-edges equi-join + aggregate (the Pregel shape) with
periodic checkpoints — that regime's gated witness is
``graph_pagerank_users`` below (user-interaction graph, nodes ∝ data),
alongside dedup._connected_components.

Graph: nodes = nations, edge (c_nation -> s_nation) weighted by the
number of lineitems a customer of the source nation bought from a
supplier of the destination nation. 25 nodes regardless of SF, so the
per-round join is broadcast-size; at 100 TB only the one-time edge
extraction (a fact-table join) is heavy, and it map-side combines to
<= 625 edge keys.

Determinism (the interesting part — PageRank sums floats in arbitrary
order on most engines): ranks are exact int64 fixed-point at 1e9.
Each edge contribution is ``(r_u * w_uv) DIV outw_u`` (integer floor
division), the damping update is ``base + (85 * sum) DIV 100`` — all
integer arithmetic, so aggregation order cannot change a single bit
and the DuckDB oracle (same 10 rounds unrolled as CTEs) hash-matches.
r_u <= 1e9 and w <= outw keep every product under 2^63.

Reference (waldfalke/catme-etl-j) has no graph surface (SURVEY.md
§2.4); public algorithm: Page et al. 1999, d = 0.85.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from catme_etl_j_spark.plans.iterate import iterate
from catme_etl_j_spark.sources.tables import load_table

PR_SCALE = 1_000_000_000  # int64 fixed-point
PR_ITERS = 10
# damping d = 0.85 as the integer pair (85, 100)


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): customer-nation -> supplier-nation lineitem counts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )


def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10 power-method rounds of damped PageRank on the nation trade
    graph; returns every nation's final fixed-point rank (int64 at 1e9)
    with its double rendering, ordered by rank."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = _trade_edges(spark, sf_dir)

    # The aggregated trade graph is <=625 edges and 25 nodes at ANY
    # scale factor — the distributed work is the fact-table edge
    # extraction above (map-side combines to the nation-pair keys);
    # the power iteration itself is a driver-scale problem. Collect
    # the tiny aggregate once and iterate locally: one distributed
    # job total, versus 10 shuffle rounds (or, with per-round
    # localCheckpoint, 10 materialization jobs — measured 2x slower
    # than this at sf0.1). Same int64 arithmetic bit-for-bit.
    # r11: the out-weight normalizer and the node list are derived
    # from the SAME two bounded collects (no separate count job, no
    # edges-join-outw that re-expands the 4-table join lineage) —
    # SUM(w) per src over identical integer rows is the identical
    # integer, and Python ints can't overflow it.
    edge_rows = edges.collect()  # bounded by |nations|^2, never by SF
    nodes = [r["n_nationkey"] for r in nation.select("n_nationkey").collect()]
    n_nodes = len(nodes)  # 25; scalar literal like the kmeans seed
    base = (15 * PR_SCALE) // (100 * n_nodes)
    r0 = PR_SCALE // n_nodes
    outw: dict[int, int] = {}
    for e in edge_rows:
        outw[e["src"]] = outw.get(e["src"], 0) + e["w"]
    rank = {n: r0 for n in nodes}
    for _ in range(PR_ITERS):
        s: dict[int, int] = {}
        for e in edge_rows:
            t = (rank[e["src"]] * e["w"]) // outw[e["src"]]
            s[e["dst"]] = s.get(e["dst"], 0) + t
        rank = {n: base + (85 * s.get(n, 0)) // 100 for n in nodes}
    ranks = spark.createDataFrame(
        [(n, rank[n]) for n in nodes], "node INT, r BIGINT"
    )
    return (
        nation.join(F.broadcast(ranks), nation.n_nationkey == ranks.node)
        .select(
            "n_nationkey",
            "n_name",
            F.col("r").alias("rank_e9"),
            F.expr(f"CAST(r AS DOUBLE) / {float(PR_SCALE)}").alias("rank"),
        )
        .orderBy(F.desc("rank_e9"), F.asc("n_nationkey"))
    )


def _pagerank_sql() -> str:
    """DuckDB twin: the same 10 integer rounds unrolled as CTEs."""
    base_cte = """
WITH edges AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*)::BIGINT AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY c.c_nationkey, s.s_nationkey),
ew AS (
  SELECT e.src, e.dst, e.w, t.outw
  FROM edges e JOIN (SELECT src, SUM(w) AS outw FROM edges GROUP BY src) t
    ON e.src = t.src),
nn AS (SELECT COUNT(*)::BIGINT AS n FROM nation),
r0 AS (
  SELECT n_nationkey AS node, ({scale}::BIGINT // nn.n) AS r
  FROM nation, nn)"""
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(
            f"""
r{k} AS (
  SELECT nation.n_nationkey AS node,
         CAST((15::BIGINT * {PR_SCALE} // (100 * nn.n))
           + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM nation CROSS JOIN nn
  LEFT JOIN (SELECT e.dst, SUM((p.r * e.w) // e.outw) AS s
             FROM ew e JOIN r{k - 1} p ON e.src = p.node
             GROUP BY e.dst) c ON c.dst = nation.n_nationkey)"""
        )
    return (
        base_cte.format(scale=PR_SCALE)
        + ","
        + ",".join(iters)
        + f"""
SELECT n.n_nationkey, n.n_name,
       p.r AS rank_e9,
       CAST(p.r AS DOUBLE) / {float(PR_SCALE)} AS rank
FROM nation n JOIN r{PR_ITERS} p ON n.n_nationkey = p.node
ORDER BY rank_e9 DESC, n.n_nationkey ASC"""
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation count on the undirected trade
    graph (edge = any trade in either direction), plus n_name.

    The standard two-join triangle enumeration over ordered edges
    (a < b < c counts each triangle once); per-node counts come from
    exploding the triangle's three corners. All exact integer counts.

    100 TB posture: the heavy step is the one-time edge extraction
    (same fact join as PageRank, map-side combining to <= 625 keys);
    the triangle joins run on the tiny edge list. On a billion-edge
    graph the identical plan shape applies with the edge list
    co-partitioned on the join keys — the canonical Spark triangle
    count.
    """
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    und = (
        _trade_edges(spark, sf_dir)
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = und.alias("e1")
    e2 = und.select(F.col("a").alias("b2"), F.col("b").alias("c")).alias("e2")
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3")).alias("e3")
    tris = (
        e1.join(e2, F.col("e1.b") == F.col("b2"))
        .join(e3, (F.col("a3") == F.col("e1.a")) & (F.col("c3") == F.col("c")))
        .select("e1.a", "e1.b", "c")
    )
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("n_nationkey")
    )
    counts = corners.groupBy("n_nationkey").agg(F.count("*").alias("n_triangles"))
    return (
        nation.join(counts, "n_nationkey", "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


_TRIANGLE_SQL = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                  greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey),
tris AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (
  SELECT unnest([a, b, c]) AS n_nationkey FROM tris),
counts AS (SELECT n_nationkey, COUNT(*) AS n_triangles FROM corners GROUP BY n_nationkey)
SELECT n.n_nationkey, n.n_name,
       CAST(COALESCE(c.n_triangles, 0) AS BIGINT) AS n_triangles
FROM nation n LEFT JOIN counts c ON n.n_nationkey = c.n_nationkey
"""


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural node similarity: Jaccard of out-neighbor sets between
    nation pairs (top-15) — the link-prediction / role-equivalence
    metric. The co-neighbor self-join groups on the SHARED neighbor,
    so its cost is sum(deg(n)^2) over neighbors, not |V|^2 — the
    standard scalable formulation; exact int intersection / union.
    """
    nbr = _trade_edges(spark, sf_dir).select("src", "dst").distinct()
    sizes = nbr.groupBy("src").agg(F.count("*").alias("n"))
    a = nbr.select(F.col("src").alias("nation_a"), "dst")
    b = nbr.select(F.col("src").alias("nation_b"), "dst")
    inter = (
        a.join(b, ["dst"])
        .filter(F.col("nation_a") < F.col("nation_b"))
        .groupBy("nation_a", "nation_b")
        .agg(F.count("*").alias("common"))
    )
    x = sizes.select(F.col("src").alias("nation_a"), F.col("n").alias("na"))
    y = sizes.select(F.col("src").alias("nation_b"), F.col("n").alias("nb"))
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    )
    return (
        inter.join(x, "nation_a")
        .join(y, "nation_b")
        .select("nation_a", "nation_b", "common", jac.alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("nation_a"), F.asc("nation_b"))
        .limit(15)
    )


_COMMON_NBR_SQL = """
WITH edges AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*)::BIGINT AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY c.c_nationkey, s.s_nationkey),
nbr AS (SELECT DISTINCT src, dst FROM edges),
sizes AS (SELECT src, COUNT(*) AS n FROM nbr GROUP BY src),
inter AS (
  SELECT a.src AS nation_a, b.src AS nation_b, COUNT(*) AS common
  FROM nbr a JOIN nbr b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2)
SELECT i.nation_a, i.nation_b, CAST(i.common AS BIGINT) AS common,
       CAST(i.common AS DOUBLE) / (x.n + y.n - i.common) AS jaccard
FROM inter i
JOIN sizes x ON i.nation_a = x.src
JOIN sizes y ON i.nation_b = y.src
ORDER BY jaccard DESC, nation_a ASC, nation_b ASC
LIMIT 15
"""


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the trade graph (top-15 nation
    pairs): AA(a,b) = sum over shared out-neighbors z of 1/ln(indeg(z))
    — common-neighbors' popularity-discounted sibling (a hub shared by
    everyone says little; a rare shared counterparty says a lot).

    Determinism: each z's weight is the fixed-point
    floor(1e9/ln(indeg)+0.5) (one identical double ln per NODE, the
    PMI convention), so per-pair scores are exact int64 sums with
    (aa_fp DESC, a, b) ordering. A shared neighbor has indeg >= 2 by
    construction, so ln is never 0 inside the sum. Same
    group-on-shared-neighbor join shape as graph_common_neighbors
    (cost sum(deg²) over neighbors, not |V|²).
    """
    nbr = _trade_edges(spark, sf_dir).select("src", "dst").distinct()
    indeg = nbr.groupBy("dst").agg(F.count("*").alias("n_in"))
    w = indeg.select(
        "dst",
        F.expr(
            "CASE WHEN n_in >= 2 THEN"
            " CAST(floor(1000000000.0 / ln(CAST(n_in AS DOUBLE)) + 0.5) AS BIGINT)"
            " END"
        ).alias("w_fp"),
    )
    a = nbr.select(F.col("src").alias("nation_a"), "dst")
    b = nbr.select(F.col("src").alias("nation_b"), "dst")
    return (
        a.join(b, ["dst"])
        .filter(F.col("nation_a") < F.col("nation_b"))
        .join(w, "dst")
        .groupBy("nation_a", "nation_b")
        .agg(
            F.count("*").cast("long").alias("common"),
            F.sum("w_fp").cast("long").alias("aa_fp"),
        )
        .orderBy(F.desc("aa_fp"), F.asc("nation_a"), F.asc("nation_b"))
        .limit(15)
    )


_ADAMIC_ADAR_SQL = """
WITH edges AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY c.c_nationkey, s.s_nationkey),
nbr AS (SELECT DISTINCT src, dst FROM edges),
w AS (
  SELECT dst,
         CASE WHEN COUNT(*) >= 2 THEN
           CAST(floor(1000000000.0 / ln(CAST(COUNT(*) AS DOUBLE)) + 0.5) AS BIGINT)
         END AS w_fp
  FROM nbr GROUP BY dst)
SELECT a.src AS nation_a, b.src AS nation_b,
       CAST(COUNT(*) AS BIGINT) AS common,
       CAST(SUM(w.w_fp) AS BIGINT) AS aa_fp
FROM nbr a
JOIN nbr b ON a.dst = b.dst AND a.src < b.src
JOIN w ON w.dst = a.dst
GROUP BY a.src, b.src
ORDER BY aa_fp DESC, nation_a ASC, nation_b ASC
LIMIT 15
"""


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation degree/strength profile of the directed trade graph:
    out/in degree (distinct counterparties) and out/in strength
    (total lineitem weight). The full-outer union of the two
    directions keeps isolated-direction nodes with zeros.

    Scale: reuses the one-time edge extraction (map-side combined to
    <=625 keys); everything after runs on the SF-invariant edge set.
    All exact integer counts/sums (convention #5 casts in the oracle).
    """
    edges = _trade_edges(spark, sf_dir)
    out = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("out_degree"),
        F.sum("w").alias("out_strength"),
    )
    inn = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("in_degree"),
        F.sum("w").alias("in_strength"),
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        nation.join(out, nation.n_nationkey == out.node, "left")
        .join(inn, nation.n_nationkey == inn.node, "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
            F.coalesce("out_strength", F.lit(0)).cast("long").alias("out_strength"),
            F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
            F.coalesce("in_strength", F.lit(0)).cast("long").alias("in_strength"),
        )
        .orderBy("n_nationkey")
    )


_DEGREE_SQL = """
WITH edges AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*)::BIGINT AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY c.c_nationkey, s.s_nationkey),
o AS (
  SELECT src AS node, COUNT(*) AS out_degree, CAST(SUM(w) AS BIGINT) AS out_strength
  FROM edges GROUP BY src),
i AS (
  SELECT dst AS node, COUNT(*) AS in_degree, CAST(SUM(w) AS BIGINT) AS in_strength
  FROM edges GROUP BY dst)
SELECT n.n_nationkey, n.n_name,
       COALESCE(o.out_degree, 0) AS out_degree,
       COALESCE(o.out_strength, 0) AS out_strength,
       COALESCE(i.in_degree, 0) AS in_degree,
       COALESCE(i.in_strength, 0) AS in_strength
FROM nation n
LEFT JOIN o ON n.n_nationkey = o.node
LEFT JOIN i ON n.n_nationkey = i.node
ORDER BY n.n_nationkey
"""


BFS_MAX_DEPTH = 25  # graph has 25 nodes; any BFS terminates by then


def graph_bfs_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-synchronous BFS — the Pregel archetype, run LIVE as
    per-round frontier-join DataFrame iterations (complementing
    PageRank's collect-tiny-state pattern; this is the shape you keep
    when the graph scales with the data).

    The dense trade graph is first thresholded to its 'backbone' —
    the top ~5%% heaviest edges (w >= the k-th largest weight,
    k = max(1, |edges| DIV 20); a fixed multiple-of-average cut went
    EMPTY at sf0.1 where weights flatten) — leaving a sparse directed
    graph where
    distances genuinely vary and some nations are unreachable (-1);
    the source is the backbone's strongest hub (max outgoing weight,
    smallest key on ties — data-dependent but deterministic). Each
    round k: frontier (the level-(k-1) rows of the visited set) ⋈
    edges -> dedup -> anti-join against visited, unioned onto it; the
    4-table edge join is localCheckpoint'd once, before the threshold
    reads it (the threshold, the backbone and its source all derive
    from that one materialization), and the rounds run through
    ``iterate``, which checkpoints the visited set every round and
    stops at the first empty level (an observed count on that
    checkpoint, no probe job).

    Oracle: DuckDB recursive CTE with a depth cap; MIN(dist) per node
    is exactly the BFS level. All arithmetic is integer.
    """
    from pyspark.sql import Window as PW

    edges_all = _trade_edges(spark, sf_dir).localCheckpoint()
    ranked = edges_all.withColumn(
        "rn", F.row_number().over(PW.orderBy(F.desc("w"), "src", "dst"))
    ).withColumn(
        "ne", F.count("*").over(PW.partitionBy())
    )
    thr_row = (
        ranked.filter(F.expr("rn <= greatest(1, ne DIV 20)"))
        .agg(F.min("w").alias("thr"))
        .first()
    )
    thr = int(thr_row["thr"])
    bb = edges_all.filter(F.col("w") >= thr)
    edges = bb.select("src", "dst")
    src_row = (
        bb.groupBy("src")
        .agg(F.sum("w").alias("ow"))
        .orderBy(F.desc("ow"), F.asc("src"))
        .first()
    )
    source = int(src_row["src"])
    obs = None

    def step(dist: DataFrame, k: int) -> DataFrame:
        nonlocal obs
        obs = Observation()
        frontier = dist.filter(F.col("dist") == k - 1)
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("dist", F.lit(k).cast("long"))
        )
        return dist.unionByName(nxt.observe(obs, F.count(F.lit(1)).alias("c")))

    # the source row as a JVM literal frame: a createDataFrame row list
    # is a Python RDD that every reference in round 1 would re-run
    src = spark.range(1).select(
        F.lit(source).cast("long").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    dist, _ = iterate(
        src,
        step,
        BFS_MAX_DEPTH,
        every=1,
        stop=lambda: obs.get["c"] == 0,
    )
    nations = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("node"), "n_name"
    )
    return (
        nations.join(F.broadcast(dist), "node", "left")
        .select(
            "node",
            "n_name",
            F.coalesce("dist", F.lit(-1)).cast("long").alias("dist"),
        )
        .orderBy("node")
    )


_BFS_SQL = f"""
WITH RECURSIVE e AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY c.c_nationkey, s.s_nationkey),
thr AS (
  SELECT MIN(w) AS thr FROM (
    SELECT w, ROW_NUMBER() OVER (ORDER BY w DESC, src, dst) AS rn FROM e) r
  WHERE rn <= GREATEST(1, (SELECT COUNT(*) FROM e) // 20)),
bb AS (SELECT src, dst, w FROM e, thr WHERE w >= thr),
bsrc AS (
  SELECT src FROM bb GROUP BY src
  ORDER BY SUM(w) DESC, src ASC LIMIT 1),
reach(node, dist) AS (
  SELECT src, 0 FROM bsrc
  UNION ALL
  SELECT bb.dst, r.dist + 1
  FROM reach r JOIN bb ON bb.src = r.node
  WHERE r.dist < {BFS_MAX_DEPTH}),
best AS (SELECT node, MIN(dist) AS dist FROM reach GROUP BY node)
SELECT CAST(n.n_nationkey AS BIGINT) AS node, n.n_name,
       CAST(COALESCE(b.dist, -1) AS BIGINT) AS dist
FROM nation n LEFT JOIN best b ON n.n_nationkey = b.node
ORDER BY node
"""


# ---------------------------------------------------------------------------
# Data-scaled PageRank (the Pregel shape) — VERDICT r6 #3.
#
# graph_pagerank_nations above is honest about collecting its <=625-edge
# SF-invariant aggregate and iterating driver-side; this operator is the
# witness for the OTHER regime: a graph whose node count grows with the
# data (users) where per-round state can never visit the driver. Every
# round is a ranks-onto-edges equi-join + groupBy aggregate, run through
# plans.iterate like every other checkpointed loop.

PRU_ITERS = 5  # fixed unrolled rounds (oracle unrolls the same 5 CTEs)
PRU_TOPK = 20


def _user_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, src): every event's user beside the previous event's
    user (NULL for the first) within the same (event_type, day),
    ordered by (ts, event_id) — the one events pass every user-graph
    frame derives from.

    The lag window partitions on (event_type, day): ~|types| x |days|
    keys, so partitions stay bounded as the corpus grows along the
    calendar.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "user_id"
    )
    ev = ev.filter(F.col("user_id").isNotNull()).withColumn(
        "day", F.expr("CAST(floor(CAST(ts AS DOUBLE) / 86400.0) AS BIGINT)")
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    return ev.withColumn("src", F.lag("user_id").over(w)).select("user_id", "src")


def _adj_edges(adj: DataFrame) -> DataFrame:
    """(src, dst, w): the directed edges of a ``_user_adj`` frame."""
    return (
        adj.filter(F.col("src").isNotNull() & (F.col("src") != F.col("user_id")))
        .groupBy("src", F.col("user_id").alias("dst"))
        .agg(F.count("*").alias("w"))
    )


def _user_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): the user-interaction graph via TEMPORAL ADJACENCY —
    a directed edge from the previous event's user to this event's user
    within the same (event_type, day).

    Each event contributes at most one edge, so |E| <= |events| by
    construction — linear at any corpus size, unlike same-window
    co-occurrence (quadratic in group size).
    """
    return _adj_edges(_user_adj(spark, sf_dir))


def _user_graph(
    spark: SparkSession, sf_dir: str, truncate: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(adj, edges): the ``_user_adj`` frame and its ``_adj_edges``.

    ``truncate`` checkpoints the adjacency (lazily) first: the ONE pass
    over the largest table, which the edge list and the node spine
    (``_user_nodes``) both read (at 100 TB this cache is the window
    shuffle's output — the cost you pay anyway). The loops' test pins
    pass ``truncate=False`` to see the untruncated plan.
    """
    adj = _user_adj(spark, sf_dir)
    if truncate:
        adj = adj.localCheckpoint(eager=False)
    return adj, _adj_edges(adj)


def _user_nodes(adj: DataFrame) -> DataFrame:
    """(node): every user with an event — ``_user_adj`` keeps exactly
    the events that have a user."""
    return adj.select(F.col("user_id").alias("node")).distinct()


def _pagerank_users_ranks(
    spark: SparkSession, sf_dir: str, checkpoint_every: int = PRU_ITERS
) -> DataFrame:
    """Final fixed-point ranks after PRU_ITERS Pregel-shaped rounds.

    Per round: ranks JOIN edges ON src (equi-join, co-shuffled on the
    join key) -> per-dst contribution stream UNIONed with the node
    spine's zero rows -> ONE map-side-combined aggregate produces the
    damped update for every node (isolated users hold the base rank).
    The union-rebase replaces r10's groupBy-then-LEFT-join rebase: two
    shuffles per round instead of three, and the aggregate partial-
    combines map-side (VERDICT r10 #1 cadence/cost rework). All int64
    arithmetic — (r*w) DIV outw then base + (85*s) DIV 100 — so
    aggregation order cannot move a bit and the DuckDB oracle
    hash-matches (same determinism scheme as graph_pagerank_nations;
    mass conservation keeps r <= 1e9, so the r*w product stays inside
    int64 while any single directed edge weight is < ~9.2e9 — beyond
    every realistic corpus; a graph with a >9-billion-count single
    edge would pre-bucket its weights before ranking).

    One pass over events: the windowed adjacency frame is checkpointed
    once and BOTH the edge list and the node spine derive from it
    (r10 scanned events twice more — the node distinct and the eager
    n=count() action; VERDICT r10 #1). The n/base/r0 scalars ride a
    broadcast 1-row aggregate instead of a driver count(), so
    construction schedules zero jobs of its own. The `n > 0` filter
    on that 1-row frame is the ANSI DIV-by-zero guard for the empty
    graph (conv. #9): an empty node spine empties every downstream
    frame, which is exactly the oracle's result.

    The shipped cadence takes no eager round checkpoint (five rounds of
    |V|-sized state): besides the adjacency, spine and ew frames only
    the audit's two round frames truncate. ``checkpoint_every=0``
    exposes the untruncated plan for the test pins.
    """
    adj, edges = _user_graph(spark, sf_dir, truncate=checkpoint_every > 0)
    nodes = _user_nodes(adj)
    nb = (
        nodes.agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") > 0)  # ANSI DIV-0 guard; empty => no rows
        .select(
            "n",
            F.expr(f"CAST({15 * PR_SCALE} AS BIGINT) DIV (100 * n)").alias("base"),
            F.expr(f"CAST({PR_SCALE} AS BIGINT) DIV n").alias("r0"),
        )
    )
    # node spine with the damping scalars attached once (a 1-row
    # broadcast — NOT a per-round crossJoin); referenced by every
    # round's zero-row branch, so it sits behind the checkpoint
    nwb = nodes.crossJoin(F.broadcast(nb)).select("node", "base", "r0")
    if checkpoint_every:
        nwb = nwb.localCheckpoint(eager=False)
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("outw"))
    # edge list is reused every round: materialize once (it is the
    # data-scaled analogue of broadcasting a static structure — at
    # 100 TB this would be persist(DISK) on a bucketed layout).
    ew = edges.join(outw, "src").select("src", "dst", "w", "outw")
    if checkpoint_every:
        ew = ew.localCheckpoint(eager=False)

    def step(ranks: DataFrame, k: int) -> DataFrame:
        contrib = ew.join(ranks, ew.src == ranks.node).select(
            "dst",
            F.expr("r * w DIV outw").alias("c"),
            F.lit(None).cast("long").alias("base"),
        )
        # union-rebase: every node contributes one zero row carrying
        # its base scalar, so ONE aggregate yields sum(c) (0 for
        # isolated nodes) AND the base (max ignores the NULLs on the
        # contribution rows; each node has exactly one spine row)
        return (
            contrib.unionByName(
                nwb.select(
                    F.col("node").alias("dst"),
                    F.lit(0).cast("long").alias("c"),
                    "base",
                )
            )
            .groupBy("dst")
            .agg(
                (F.max("base") + F.expr("85 * sum(c) DIV 100"))
                .cast("long")
                .alias("r")
            )
            .select(F.col("dst").alias("node"), "r")
        )

    ranks, prev = iterate(
        nwb.select("node", F.col("r0").cast("long").alias("r")),
        step,
        PRU_ITERS,
        every=checkpoint_every,
    )
    # Convergence audit (VERDICT r8 #4): total absolute rank movement
    # in the final round, exact int64 — 0 means the power iteration
    # reached its integer fixpoint inside PRU_ITERS rounds; a nonzero
    # residual makes the fixed-round cut visible in the result.
    audit = (
        ranks.join(prev.select("node", F.col("r").alias("pr")), "node")
        .agg(
            F.coalesce(F.sum(F.abs(F.col("r") - F.col("pr"))), F.lit(0))
            .cast("long")
            .alias("delta_e9_final")
        )
    )
    return ranks.crossJoin(F.broadcast(audit))


def graph_pagerank_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by damped PageRank over the temporal-adjacency
    user-interaction graph (nodes ∝ data — 15/150/1500 users and
    ~|events| edges across the driver SFs). The gated witness that the
    iterative per-round equi-join loop is right, not just the
    SF-invariant driver-side variant above."""
    ranks = _pagerank_users_ranks(spark, sf_dir)
    return (
        ranks.select(
            F.col("node").alias("user_id"),
            F.col("r").alias("rank_e9"),
            F.expr(f"CAST(r AS DOUBLE) / {float(PR_SCALE)}").alias("rank"),
            "delta_e9_final",
        )
        .orderBy(F.desc("rank_e9"), F.asc("user_id"))
        .limit(PRU_TOPK)
    )


LPA_ITERS = 6  # fixed semi-synchronous rounds (3 per color class)
LPA_TOPK = 20


def graph_lpa_communities(
    spark: SparkSession, sf_dir: str, checkpoint_every: int = 2
) -> DataFrame:
    """SEMI-synchronous label propagation (community detection) over
    the undirected user-interaction graph — the second Pregel-shape
    witness, with per-round state keyed on MODE-of-neighbors rather
    than PageRank's sum (Raghavan et al. 2007; the semi-synchronous
    color schedule of Cordasco & Gargano 2011, made deterministic).

    Labels start as the node's own user_id. Round k updates ONLY the
    parity color class node % 2 == k % 2 — fully synchronous LPA
    provably oscillates on bipartite-ish structure (two triads joined
    by one bridge flip labels forever; the unit test pins this case),
    while alternating color classes converge. An updating node adopts
    the label with the greatest total incident edge weight among its
    neighbors, ties broken by SMALLEST label; isolated and off-color
    nodes keep their label. The argmax is max(struct(tw, -lbl)) — a
    HASH AGGREGATE with map-side partial aggregation, not a windowed
    row_number sort (lexicographic struct max: greatest weight, then
    greatest -lbl = smallest label; exact integers, so no float can
    drift; user ids are non-negative so -lbl cannot overflow). The
    DuckDB oracle keeps the naive QUALIFY row_number (tw DESC, lbl
    ASC) formulation, so the gate itself proves aggregate-argmax ≡
    rank-pick. After LPA_ITERS rounds the output is the top-20
    communities by size (size DESC, community ASC).

    Convergence audit (VERDICT r8 #4): ``n_changed_final`` counts the
    labels that still moved in round LPA_ITERS. Unlike CC's monotone
    propagation LPA may legitimately keep oscillating on some graphs —
    the audit does not promise 0, it makes the fixed-round cut
    VISIBLE in the result so a reader can tell a settled community
    structure from a truncated one.

    Scale shape per round: labels-onto-edges equi-join + one (node,
    label) partial-aggregated sum + one per-node partial-aggregated
    max — all co-shuffled on the node key, no per-round sort; the
    rounds run through ``iterate`` (``checkpoint_every=0`` exposes the
    untruncated plan for the test pins).
    """
    adj, ed = _user_graph(spark, sf_dir, truncate=checkpoint_every > 0)
    # undirected neighborhood: each directed edge contributes its
    # weight in both directions
    both = ed.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr"), "w"
    ).unionAll(ed.select(F.col("dst").alias("node"), F.col("src").alias("nbr"), "w"))
    if checkpoint_every:
        both = both.localCheckpoint()
    labels = _user_nodes(adj).withColumn("lbl", F.col("node"))

    def step(labels: DataFrame, k: int) -> DataFrame:
        nbr_lbl = both.join(
            labels.select(F.col("node").alias("nbr"), F.col("lbl").alias("nlbl")),
            "nbr",
        )
        best = (
            nbr_lbl.groupBy("node", F.col("nlbl").alias("lbl"))
            .agg(F.sum("w").cast("long").alias("tw"))
            .groupBy("node")
            .agg(
                F.max(F.struct(F.col("tw"), (-F.col("lbl")).alias("nl"))).alias(
                    "m"
                )
            )
            .select("node", (-F.col("m.nl")).alias("new_lbl"))
        )
        # double-mod parity: identical for negative ids on every engine
        return labels.join(best, "node", "left").select(
            "node",
            F.when(
                F.expr("((node % 2) + 2) % 2") == k % 2,
                F.coalesce("new_lbl", "lbl"),
            )
            .otherwise(F.col("lbl"))
            .alias("lbl"),
        )

    labels, prev = iterate(labels, step, LPA_ITERS, every=checkpoint_every)
    audit = (
        labels.join(prev.select("node", F.col("lbl").alias("plbl")), "node")
        .agg(
            F.coalesce(
                F.sum((F.col("lbl") != F.col("plbl")).cast("long")), F.lit(0)
            ).cast("long").alias("n_changed_final")
        )
    )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").cast("long").alias("size"))
        .crossJoin(F.broadcast(audit))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(LPA_TOPK)
    )


# DuckDB twin of `_user_adj` (the temporal-adjacency lag window), the
# head of every user-graph oracle's WITH list; kept apart from the Spark
# builder so each oracle stays independent of the code it checks.
_USER_ADJ_CTES = """
WITH ev AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
         ts, event_id, user_id
  FROM events WHERE user_id IS NOT NULL),
adj AS (
  SELECT user_id AS dst,
         lag(user_id) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS src
  FROM ev),
"""


def _lpa_sql() -> str:
    """DuckDB twin: LPA_ITERS semi-synchronous rounds unrolled as CTEs;
    the argmax uses the same QUALIFY row_number (tw DESC, lbl ASC) and
    the same parity gate on which nodes update."""
    head = _USER_ADJ_CTES + """edges AS MATERIALIZED (
  SELECT src, dst, COUNT(*)::BIGINT AS w
  FROM adj WHERE src IS NOT NULL AND src <> dst
  GROUP BY src, dst),
nb AS (
  SELECT src AS node, dst AS nbr, w FROM edges
  UNION ALL
  SELECT dst AS node, src AS nbr, w FROM edges),
l0 AS (
  SELECT DISTINCT user_id AS node, user_id AS lbl
  FROM events WHERE user_id IS NOT NULL)"""
    iters = []
    # Convention #11: each l{k} is referenced twice per round (b{k+1}
    # and l{k+1}) — without MATERIALIZED the plan re-expands the chain
    # ~2^LPA_ITERS times (ADVICE r7; same failure mode as the s-core
    # fd-limit blowup).
    for k in range(1, LPA_ITERS + 1):
        iters.append(
            f"""
b{k} AS (
  SELECT node, lbl AS new_lbl FROM (
    SELECT e.node, p.lbl, CAST(SUM(e.w) AS BIGINT) AS tw
    FROM nb e JOIN l{k - 1} p ON e.nbr = p.node
    GROUP BY e.node, p.lbl)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY tw DESC, lbl ASC) = 1),
l{k} AS MATERIALIZED (
  SELECT p.node,
         CASE WHEN ((p.node % 2) + 2) % 2 = {k % 2}
              THEN COALESCE(b.new_lbl, p.lbl) ELSE p.lbl END AS lbl
  FROM l{k - 1} p LEFT JOIN b{k} b ON p.node = b.node)"""
        )
    return (
        head
        + ","
        + ",".join(iters)
        + f""",
chg AS (
  SELECT COUNT(*)::BIGINT AS n_changed_final
  FROM l{LPA_ITERS} a JOIN l{LPA_ITERS - 1} b ON a.node = b.node
  WHERE a.lbl <> b.lbl)
SELECT lbl AS community, COUNT(*)::BIGINT AS size, chg.n_changed_final
FROM l{LPA_ITERS}, chg
GROUP BY lbl, chg.n_changed_final
ORDER BY size DESC, community ASC
LIMIT {LPA_TOPK}"""
    )


def _pagerank_users_sql() -> str:
    """DuckDB twin: the same PRU_ITERS integer rounds unrolled as CTEs
    (the corpus_bpe recursive-oracle precedent, unrolled form)."""
    head = _USER_ADJ_CTES + f"""edges AS MATERIALIZED (
  SELECT src, dst, COUNT(*)::BIGINT AS w
  FROM adj WHERE src IS NOT NULL AND src <> dst
  GROUP BY src, dst),
ew AS (
  SELECT e.src, e.dst, e.w, CAST(t.outw AS BIGINT) AS outw
  FROM edges e JOIN (SELECT src, SUM(w) AS outw FROM edges GROUP BY src) t
    ON e.src = t.src),
nodes AS (SELECT DISTINCT user_id AS node FROM events WHERE user_id IS NOT NULL),
nn AS (SELECT COUNT(*)::BIGINT AS n FROM nodes),
r0 AS (SELECT node, ({PR_SCALE}::BIGINT // nn.n) AS r FROM nodes, nn)"""
    iters = []
    for k in range(1, PRU_ITERS + 1):
        # MATERIALIZED (convention #11): the audit CTE gives r{K} and
        # r{K-1} a second reference each — unmaterialized, the chain
        # would re-expand multiplicatively
        iters.append(
            f"""
r{k} AS MATERIALIZED (
  SELECT nodes.node,
         CAST((15::BIGINT * {PR_SCALE} // (100 * nn.n))
           + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (SELECT e.dst, SUM((p.r * e.w) // e.outw) AS s
             FROM ew e JOIN r{k - 1} p ON e.src = p.node
             GROUP BY e.dst) c ON c.dst = nodes.node)"""
        )
    return (
        head
        + ","
        + ",".join(iters)
        + f""",
chg AS (
  SELECT CAST(COALESCE(SUM(ABS(a.r - b.r)), 0) AS BIGINT) AS delta_e9_final
  FROM r{PRU_ITERS} a JOIN r{PRU_ITERS - 1} b ON a.node = b.node)
SELECT node AS user_id, r AS rank_e9,
       CAST(r AS DOUBLE) / {float(PR_SCALE)} AS rank,
       chg.delta_e9_final
FROM r{PRU_ITERS}, chg
ORDER BY rank_e9 DESC, user_id ASC
LIMIT {PRU_TOPK}"""
    )


# ---------------------------------------------------------------------------
# Weighted s-core peeling (Eidsaa & Almaas, "s-core network decomposition",
# Phys. Rev. E 2013 — public; the strength-weighted generalization of
# k-core). Iteratively remove nodes whose incident-edge-weight sum falls
# below a threshold; removals weaken neighbors, so peeling CASCADES —
# the avalanche dynamic this operator makes visible per round.
# ---------------------------------------------------------------------------

SCORE_ITERS = 5  # fixed unrolled rounds (oracle unrolls the same 5 CTEs)
SCORE_PCT = 90  # s = 90% of the initial lower-median strength + 1


def _sym_user_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (e1 < e2, summed weight) form of the temporal-
    adjacency user graph (`_user_edges`)."""
    e = _user_edges(spark, sf_dir)
    return (
        e.select(
            F.expr("least(src, dst)").alias("e1"),
            F.expr("greatest(src, dst)").alias("e2"),
            "w",
        )
        .groupBy("e1", "e2")
        .agg(F.sum("w").alias("w"))
    )


def _s_core_round(
    ea: DataFrame, s_thr: int, checkpoint: bool = True, st: DataFrame = None
):
    """One peeling round: strength aggregate -> alive filter -> two
    LEFT SEMI prunes of the surviving edge list.

    Convention #12 (VERDICT r9 #1): both frames have 2+ consumers —
    ``alive`` feeds the two semi-joins and the trajectory's n_alive
    count, ``ea`` feeds next round's strength aggregate and this
    round's edge stats — so each checkpoints once per round (alive
    BEFORE the prune, so the strength aggregate runs exactly once).
    The old every-2-rounds cadence re-derived odd rounds ~3x (once per
    trajectory-row consumer). Both frames shrink monotonically, so the
    materializations get cheaper as peeling proceeds.
    ``st`` lets the caller hand in an already-built strength frame
    (round 1 reuses the checkpointed st0 that fed the median walk —
    VERDICT r10 #2); by default the round aggregates it from ``ea``.
    ``checkpoint=False`` exposes one round's untruncated plan for the
    test pin.
    """
    if st is None:
        st = (
            ea.select(F.col("e1").alias("node"), "w")
            .unionByName(ea.select(F.col("e2").alias("node"), "w"))
            .groupBy("node")
            .agg(F.sum("w").alias("s"))
        )
    alive = st.filter(F.col("s") >= s_thr).select("node")
    obs = None
    if checkpoint:
        # r12 (VERDICT r11 #1b): the caller's per-round emptiness probe
        # rides the checkpoint materialization as an observed metric
        # instead of scheduling its own isEmpty() job. The checkpoint
        # must be EAGER for the metric to resolve (a lazy checkpoint
        # materializes upstream stages but not the final one); the
        # frame was materialized either way — the probe job is the
        # saving, one per round.
        obs = Observation()
        alive = alive.observe(obs, F.count(F.lit(1)).alias("c")).localCheckpoint()
    nxt = ea.join(
        alive.withColumnRenamed("node", "e1"), "e1", "left_semi"
    ).join(alive.withColumnRenamed("node", "e2"), "e2", "left_semi")
    if checkpoint:
        nxt = nxt.localCheckpoint(eager=False)
    return alive, nxt, obs


def graph_s_core_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round trajectory of weighted s-core peeling over the user
    graph: alive-node count, surviving-edge count, and surviving total
    weight after each of SCORE_ITERS rounds of removing nodes with
    strength < s.

    s is data-derived (scale-portable): SCORE_PCT% of the initial
    lower-median node strength, +1 — high enough that removals
    actually cascade. At the driver SFs the trajectory shows the
    avalanche property of s-cores (sf0.01: 150 -> 119 -> 48 -> 0): a
    strength threshold, unlike a degree threshold, keeps biting as
    removals drain the survivors' strengths. Rounds after the
    fixpoint (including a collapse to the empty core) repeat it —
    fixed SCORE_ITERS rows on both engines.

    Convergence audit (VERDICT r8 #4): each row carries ``n_removed``
    — nodes peeled in that round (round 1 relative to the full node
    set). 0 in the final row means the peeling reached its stable
    s-core inside SCORE_ITERS rounds; nonzero makes the fixed-round
    cut visible in the result.

    Scale shape: the edge list localCheckpoints once; each round is
    two LEFT SEMI hash equi-joins (alive onto the SURVIVING edges —
    round r's survivors are round r+1's input, so the frames shrink)
    + one map-side-combined strength aggregate — the Pregel
    discipline of pagerank_users/LPA; alive set and survivor edges
    checkpoint every round (both have 2+ consumers — convention #12 —
    and both shrink monotonically, so the per-round materialization
    cost falls as peeling proceeds). Two r11 reworks (VERDICT r10
    #1/#2): (a) the initial strength frame st0 checkpoints once and
    feeds BOTH the median walk and round 1's alive filter — r10
    aggregated the strengths twice; (b) the avalanche's fixpoint
    short-circuits: once `alive` is empty every later round is
    provably (0, 0, 0) (empty alive => empty survivor edges => empty
    strengths => empty alive), so those rounds emit literal rows
    instead of scheduling six empty-frame jobs each. The emptiness
    probe is a bounded per-round driver boolean on a frame the
    checkpoint materializes anyway, and it is exactly what makes the
    fixed-SCORE_ITERS contract cheap when the core collapses early —
    at any scale.

    The two driver-side scalars (node count, lower median via the
    value-walk over per-strength counts — no global row_number over
    nodes, the theil_sen remedy) are bounded aggregates; distinct
    strength values cluster far below |nodes| (histogram-bucket the
    walk if that ever fails to hold).
    """
    from pyspark.sql import Window

    edges = _sym_user_edges(spark, sf_dir).localCheckpoint(eager=False)
    st0 = (
        edges.select(F.col("e1").alias("node"), "w")
        .unionByName(edges.select(F.col("e2").alias("node"), "w"))
        .groupBy("node")
        .agg(F.sum("w").alias("s"))
        .localCheckpoint(eager=False)  # consumers: median walk, round 1
    )
    # ONE driver action: the cum-walk carries the total alongside, so
    # the lower-median rank (n+1)//2 resolves in the same 1-row fetch.
    wcum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    med_row = (
        st0.groupBy("s")
        .agg(F.count("*").alias("c"))
        .select(
            "s",
            F.sum("c").over(wcum).alias("cum"),
            F.expr("sum(c) OVER ()").alias("n"),
        )
        .filter(F.expr("cum >= (n + 1) DIV 2"))
        # n rides the same 1-row fetch (constant across surviving rows)
        # so the audit's round-1 baseline costs no second st0 pass
        .agg(F.min("s").alias("med"), F.max("n").cast("long").alias("n0"))
        .first()
    )
    if med_row["med"] is None:  # empty graph: oracle's NULL threshold
        s_thr = 1  # also yields all-empty rounds
    else:
        s_thr = int(med_row["med"]) * SCORE_PCT // 100 + 1
    n_nodes0 = int(med_row["n0"] or 0)
    # Round r's surviving-edge set IS round r+1's input (alive sets
    # shrink monotonically, so filtering the previous survivors equals
    # re-filtering the full edge list — the oracle does the latter):
    # carry `ea` forward for 2 semi-joins per round instead of 4, each
    # round over a shrinking frame.
    ea = edges
    st = st0
    rows = []
    collapsed = False
    for r in range(1, SCORE_ITERS + 1):
        if collapsed:
            # past the fixpoint: the round is identically empty
            rows.append(
                spark.range(1).select(
                    F.lit(0).cast("long").alias("n_alive"),
                    F.lit(0).cast("long").alias("n_edges"),
                    F.lit(0).cast("long").alias("total_w"),
                    F.lit(r).alias("round"),
                )
            )
            continue
        alive, ea, obs = _s_core_round(ea, s_thr, st=st)
        rows.append(
            alive.agg(F.count("*").cast("long").alias("n_alive"))
            .crossJoin(
                ea.agg(
                    F.count("*").cast("long").alias("n_edges"),
                    F.expr("CAST(coalesce(sum(w), 0) AS BIGINT)").alias("total_w"),
                )
            )
            .withColumn("round", F.lit(r))
        )
        # the observed row count resolved during alive's checkpoint
        # materialization — no isEmpty() probe job (VERDICT r11 #1b)
        if obs.get["c"] == 0:
            collapsed = True
        else:
            st = (
                ea.select(F.col("e1").alias("node"), "w")
                .unionByName(ea.select(F.col("e2").alias("node"), "w"))
                .groupBy("node")
                .agg(F.sum("w").alias("s"))
            )
    from functools import reduce

    out = reduce(lambda a, b: a.unionByName(b), rows)
    # n_removed via lag over the SCORE_ITERS-row trajectory (bounded
    # frame, not data-sized); round 1's baseline is the full node set,
    # carried as a literal from the median's single driver fetch
    wr = Window.orderBy("round")
    return (
        out.select(
            "round",
            "n_alive",
            "n_edges",
            "total_w",
            (
                F.coalesce(
                    F.lag("n_alive").over(wr),
                    F.lit(n_nodes0).cast("long"),
                )
                - F.col("n_alive")
            ).cast("long").alias("n_removed"),
        )
        .orderBy("round")
    )


def _s_core_sql() -> str:
    head = _USER_ADJ_CTES + f"""dedges AS MATERIALIZED (
  SELECT src, dst, COUNT(*)::BIGINT AS w
  FROM adj WHERE src IS NOT NULL AND src <> dst
  GROUP BY src, dst),
e AS MATERIALIZED (
  SELECT least(src, dst) AS e1, greatest(src, dst) AS e2,
         CAST(SUM(w) AS BIGINT) AS w
  FROM dedges GROUP BY 1, 2),
st0 AS MATERIALIZED (
  SELECT node, CAST(SUM(w) AS BIGINT) AS s
  FROM (SELECT e1 AS node, w FROM e UNION ALL SELECT e2, w FROM e) u
  GROUP BY node),
nn AS (SELECT COUNT(*)::BIGINT AS n FROM st0),
medv AS (
  SELECT MIN(s) AS med FROM (
    SELECT s, SUM(c) OVER (ORDER BY s) AS cum
    FROM (SELECT s, COUNT(*)::BIGINT AS c FROM st0 GROUP BY s) g) cw, nn
  WHERE cum >= (nn.n + 1) // 2),
thr AS MATERIALIZED (SELECT med * {SCORE_PCT} // 100 + 1 AS s_thr FROM medv),
a0 AS MATERIALIZED (SELECT node FROM st0)"""
    parts = [head]
    for r in range(1, SCORE_ITERS + 1):
        p = r - 1
        parts.append(
            f"""
e{r} AS MATERIALIZED (
  SELECT e.e1, e.e2, e.w FROM e
  JOIN a{p} x ON e.e1 = x.node JOIN a{p} y ON e.e2 = y.node),
st{r} AS (
  SELECT node, CAST(SUM(w) AS BIGINT) AS s
  FROM (SELECT e1 AS node, w FROM e{r} UNION ALL SELECT e2, w FROM e{r}) u
  GROUP BY node),
a{r} AS MATERIALIZED (SELECT node FROM st{r}, thr WHERE s >= s_thr),
ee{r} AS MATERIALIZED (
  SELECT e.e1, e.e2, e.w FROM e{r} e
  JOIN a{r} x ON e.e1 = x.node JOIN a{r} y ON e.e2 = y.node),
row{r} AS (
  SELECT {r} AS round,
         (SELECT COUNT(*)::BIGINT FROM a{r}) AS n_alive,
         (SELECT COUNT(*)::BIGINT FROM ee{r}) AS n_edges,
         (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) FROM ee{r}) AS total_w)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM row{r}" for r in range(1, SCORE_ITERS + 1)
    )
    return (
        ",".join(parts)
        + f""",
traj AS ({union})
SELECT round, n_alive, n_edges, total_w,
       CAST(COALESCE(LAG(n_alive) OVER (ORDER BY round),
                     (SELECT COUNT(*)::BIGINT FROM a0))
            - n_alive AS BIGINT) AS n_removed
FROM traj
ORDER BY round"""
    )


CC_ITERS = 5  # fixed unrolled min-label rounds (oracle matches)
CC_TOPK = 20


def graph_connected_components(
    spark: SparkSession, sf_dir: str, checkpoint_every: int = 2
) -> DataFrame:
    """Connected components of the undirected user-interaction graph by
    CC_ITERS rounds of MIN-LABEL propagation — the fourth Pregel-shape
    witness, with per-round state keyed on min() (monotone, so unlike
    LPA the fully-synchronous schedule cannot oscillate: labels only
    decrease and the fixpoint is the true component minimum).

    Labels start as the node's own user_id; each round every node takes
    ``least(own, min neighbor label)`` (both engines' least() ignores a
    NULL neighbor-min, so isolated nodes keep their label). After
    CC_ITERS rounds — exact components wherever the in-component hop
    distance to the minimum-id node is <= CC_ITERS, and a deterministic
    lower-bound labelling regardless — the output is the top-20
    components by size (size DESC, component ASC).

    Convergence audit (VERDICT r8 #4): every output row carries
    ``n_changed_final`` — how many labels still moved in round
    CC_ITERS. 0 means the labelling IS the true component fixpoint;
    a nonzero value makes fixed-round truncation visible in the
    RESULT, not just this docstring (a deeper-diameter graph can no
    longer silently pass as "connected components"). The audit is one
    extra co-partitioned self-join + scalar agg on the final two label
    frames — O(|V|) work, no new shuffle key.

    Scale shape per round: labels-onto-edges equi-join + one per-node
    partial-aggregated MIN — co-shuffled on the node key, no sort, no
    windows; the rounds run through ``iterate``
    (``checkpoint_every=0`` exposes the untruncated plan for the test
    pins). At 100 TB the production form
    is large-star/small-star (Kiveris et al. 2014) for O(log n)
    convergence; plain propagation keeps the oracle exactly unrollable.

    Reference (waldfalke/catme-etl-j) has no graph surface (SURVEY.md
    §2.4); public algorithm: label propagation CC (Pregel canonical).
    """
    adj, ed = _user_graph(spark, sf_dir, truncate=checkpoint_every > 0)
    both = ed.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ).unionAll(
        ed.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    ).distinct()
    if checkpoint_every:
        both = both.localCheckpoint()
    labels = _user_nodes(adj).withColumn("lbl", F.col("node"))

    def step(labels: DataFrame, k: int) -> DataFrame:
        nbr_min = (
            both.join(
                labels.select(F.col("node").alias("nbr"), F.col("lbl").alias("nlbl")),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nlbl").alias("nmin"))
        )
        return labels.join(nbr_min, "node", "left").select(
            "node", F.least(F.col("lbl"), F.col("nmin")).alias("lbl")
        )

    labels, prev = iterate(labels, step, CC_ITERS, every=checkpoint_every)
    audit = (
        labels.join(
            prev.select("node", F.col("lbl").alias("plbl")), "node"
        )
        .agg(
            F.coalesce(
                F.sum((F.col("lbl") != F.col("plbl")).cast("long")), F.lit(0)
            ).cast("long").alias("n_changed_final")
        )
    )
    return (
        labels.groupBy(F.col("lbl").alias("component"))
        .agg(F.count("*").cast("long").alias("size"))
        .crossJoin(F.broadcast(audit))
        .orderBy(F.desc("size"), F.asc("component"))
        .limit(CC_TOPK)
    )


def _cc_sql() -> str:
    """DuckDB twin: the same CC_ITERS min-label rounds unrolled as
    MATERIALIZED CTEs (convention #11: every l{k} is referenced by the
    next round's join AND carry-through)."""
    head = _USER_ADJ_CTES + """edges AS MATERIALIZED (
  SELECT DISTINCT src, dst
  FROM adj WHERE src IS NOT NULL AND src <> dst),
nb AS MATERIALIZED (
  SELECT src AS node, dst AS nbr FROM edges
  UNION
  SELECT dst AS node, src AS nbr FROM edges),
l0 AS (
  SELECT DISTINCT user_id AS node, user_id AS lbl
  FROM events WHERE user_id IS NOT NULL)"""
    iters = []
    for k in range(1, CC_ITERS + 1):
        iters.append(
            f"""
l{k} AS MATERIALIZED (
  SELECT p.node, least(p.lbl, m.nmin) AS lbl
  FROM l{k - 1} p LEFT JOIN (
    SELECT e.node, MIN(q.lbl) AS nmin
    FROM nb e JOIN l{k - 1} q ON e.nbr = q.node
    GROUP BY e.node) m ON p.node = m.node)"""
        )
    return (
        head
        + ","
        + ",".join(iters)
        + f""",
chg AS (
  SELECT COUNT(*)::BIGINT AS n_changed_final
  FROM l{CC_ITERS} a JOIN l{CC_ITERS - 1} b ON a.node = b.node
  WHERE a.lbl <> b.lbl)
SELECT lbl AS component, COUNT(*)::BIGINT AS size, chg.n_changed_final
FROM l{CC_ITERS}, chg
GROUP BY lbl, chg.n_changed_final
ORDER BY size DESC, component ASC
LIMIT {CC_TOPK}"""
    )


# ---------------------------------------------------------------------------
# Katz centrality (Katz 1953, "A new status index derived from
# sociometric analysis" — public): attenuated-path-count status,
# x = sum_{k>=1} alpha^k (A^T)^k 1, iterated as x_k = beta + alpha *
# A^T x_{k-1}. The FIFTH Pregel-shape witness — unlike PageRank it has
# no out-degree normalization (high-out-degree spammers donate full
# weight), and unlike LPA its state is additive, so the per-round shape
# is a plain join+sum with a +beta rebase.
# ---------------------------------------------------------------------------

KZ_SCALE = 1_000_000  # beta = 1.0 in 1e6 fixed-point
KZ_ITERS = 4  # fixed rounds; the oracle unrolls the same 4 CTEs
KZ_TOPK = 20


def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by fixed-point Katz centrality over the directed
    temporal-adjacency user graph, with the data-derived attenuation
    and a convergence audit in the output.

    alpha is 1/(max weighted in-strength + 1) — strictly below the
    spectral-radius bound 1/lambda_max (lambda_max <= max row sum for
    nonnegative matrices), so the series converges AND the int64
    fixed-point provably cannot overflow at ANY data scale: each
    round's incoming sum sum_in(w * x) DIV alpha_den is < max(x), so
    x_k <= (k+1) * KZ_SCALE — linear in rounds, scale-free. A fixed
    alpha would overflow int64 once max in-strength outgrew it (the
    100 TB trap this construction retires by design).

    Determinism: per-edge contributions truncate BEFORE summing
    ((x*w) DIV alpha_den — positive operands, convention #7), sums are
    exact int64, and the oracle replays the identical unrolled rounds.
    ``delta_fp_final`` (total |x_K - x_{K-1}|) makes the fixed-round
    truncation visible in the result (VERDICT r8 #4 pattern);
    ``alpha_den`` is emitted so the gate also checks the derived
    attenuation.

    Scale shape: per round ONE equi-join of the edge list with the
    rank frame on src (both shuffled on the same key — at cluster
    scale the edge list is bucketed once and every round reuses the
    layout) and one map-side-combined per-dst sum; the node rebase is
    a LEFT join on the node set; the rounds run through ``iterate``.
    alpha_den is a 1-row aggregate scalar, not data-sized driver
    state.
    """
    # both loop-invariant frames materialize ONCE, from the one events
    # pass: every round (and the audit) re-references nodes, so an
    # uncheckpointed node set would re-scan per round (pinned at zero
    # parquet re-scans in test_plans.py)
    adj, edges = _user_graph(spark, sf_dir)
    nodes = _user_nodes(adj).localCheckpoint()
    edges = edges.localCheckpoint()
    row = edges.groupBy("dst").agg(F.sum("w").alias("instr")).agg(
        F.max("instr").alias("m")
    ).first()
    alpha_den = int(row["m"] or 0) + 1

    def step(xs: DataFrame, k: int) -> DataFrame:
        s = (
            edges.join(xs, edges.src == xs.node)
            .select("dst", F.expr(f"(x * w) DIV {alpha_den}").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        return nodes.join(s, nodes.node == s.dst, "left").select(
            nodes.node,
            (
                F.lit(KZ_SCALE).cast("long")
                + F.coalesce(F.col("s"), F.lit(0).cast("long"))
            ).cast("long").alias("x"),
        )

    xs, prev = iterate(
        nodes.select("node", F.lit(KZ_SCALE).cast("long").alias("x")),
        step,
        KZ_ITERS,
        every=2,
    )
    audit = xs.join(prev.select("node", F.col("x").alias("px")), "node").agg(
        F.coalesce(F.sum(F.abs(F.col("x") - F.col("px"))), F.lit(0))
        .cast("long")
        .alias("delta_fp_final")
    )
    return (
        xs.crossJoin(F.broadcast(audit))
        .select(
            F.col("node").alias("user_id"),
            F.col("x").alias("katz_fp"),
            F.expr(f"CAST(x AS DOUBLE) / {float(KZ_SCALE)}").alias("katz"),
            F.lit(alpha_den).cast("long").alias("alpha_den"),
            "delta_fp_final",
        )
        .orderBy(F.desc("katz_fp"), F.asc("user_id"))
        .limit(KZ_TOPK)
    )


def _katz_sql() -> str:
    head = _USER_ADJ_CTES + f"""edges AS MATERIALIZED (
  SELECT src, dst, COUNT(*)::BIGINT AS w
  FROM adj WHERE src IS NOT NULL AND src <> dst
  GROUP BY src, dst),
ad AS MATERIALIZED (
  SELECT CAST(COALESCE(MAX(instr), 0) + 1 AS BIGINT) AS alpha_den
  FROM (SELECT dst, SUM(w) AS instr FROM edges GROUP BY dst) t),
nodes AS MATERIALIZED (
  SELECT DISTINCT user_id AS node FROM events WHERE user_id IS NOT NULL),
x0 AS (SELECT node, CAST({KZ_SCALE} AS BIGINT) AS x FROM nodes)"""
    iters = []
    for k in range(1, KZ_ITERS + 1):
        iters.append(
            f"""
x{k} AS MATERIALIZED (
  SELECT nodes.node,
         CAST({KZ_SCALE} + COALESCE(c.s, 0) AS BIGINT) AS x
  FROM nodes
  LEFT JOIN (SELECT e.dst, SUM((p.x * e.w) // ad.alpha_den) AS s
             FROM edges e JOIN x{k - 1} p ON e.src = p.node, ad
             GROUP BY e.dst) c ON c.dst = nodes.node)"""
        )
    return (
        head
        + ","
        + ",".join(iters)
        + f""",
chg AS (
  SELECT CAST(COALESCE(SUM(ABS(a.x - b.x)), 0) AS BIGINT) AS delta_fp_final
  FROM x{KZ_ITERS} a JOIN x{KZ_ITERS - 1} b ON a.node = b.node)
SELECT node AS user_id, x AS katz_fp,
       CAST(x AS DOUBLE) / {float(KZ_SCALE)} AS katz,
       ad.alpha_den, chg.delta_fp_final
FROM x{KZ_ITERS}, ad, chg
ORDER BY katz_fp DESC, user_id ASC
LIMIT {KZ_TOPK}"""
    )


QUERIES = {
    "graph_katz_centrality": graph_katz_centrality,
    "graph_connected_components": graph_connected_components,
    "graph_s_core_peeling": graph_s_core_peeling,
    "graph_pagerank_users": graph_pagerank_users,
    "graph_lpa_communities": graph_lpa_communities,
    "graph_adamic_adar": graph_adamic_adar,
    "graph_pagerank_nations": graph_pagerank_nations,
    "graph_bfs_backbone": graph_bfs_backbone,
    "graph_triangle_count": graph_triangle_count,
    "graph_common_neighbors": graph_common_neighbors,
    "graph_degree_stats": graph_degree_stats,
}

ORACLES = {
    "graph_katz_centrality": _katz_sql(),
    "graph_connected_components": _cc_sql(),
    "graph_s_core_peeling": _s_core_sql(),
    "graph_pagerank_users": _pagerank_users_sql(),
    "graph_lpa_communities": _lpa_sql(),
    "graph_adamic_adar": _ADAMIC_ADAR_SQL,
    "graph_pagerank_nations": _pagerank_sql(),
    "graph_bfs_backbone": _BFS_SQL,
    "graph_triangle_count": _TRIANGLE_SQL,
    "graph_common_neighbors": _COMMON_NBR_SQL,
    "graph_degree_stats": _DEGREE_SQL,
}
