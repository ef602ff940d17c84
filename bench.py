"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall seconds.

    python bench.py [name ...]

With names, it times the q03 control and then those entries (any
registered query or converter key) under the same protocol.

Every query is timed end to end: construction, then execution through
the ``noop`` write sink, which forces full computation of the plan
(unlike ``count()``, which lets Catalyst prune projection work) while
writing nothing. ``BENCH_RECORD=1`` keeps each sample's
construct_s/exec_s split in BENCH_LOG.jsonl.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from catme_etl_j_spark.session import get_spark  # noqa: E402

# Headline set: covers joins+aggs (q01..q10), windows, sessionization,
# shingle/LSH dedup, blocked ANN, and text scoring — the engine's
# scale-critical paths.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier",
    "q06_revenue_delta",
    "q10_returned_items",
    "window_running_total",
    "events_sessionize",
    "text_quality",
    # NB: the scale-SAFE capped variant, not the uncapped exact join —
    # dedup_ngram_jaccard is oracle-twin-only (O(df^2) per hot shingle)
    "dedup_ngram_jaccard_capped",
    "dedup_winnow_pairs",
    "dedup_minhash_lsh",
    "dedup_minhash_keep",
    "ann_nn_within_label",
    "ann_topk_ivf_kmeans",
    "corpus_clean_pipeline",
    # round-3 additions: fixed-state sketches, retrieval scoring,
    # warehouse maintenance, vector compression
    "sketch_hll_distinct",
    "rank_bm25_search",
    "etl_scd2_intervals",
    "embed_quantize_int8",
    # round-4 additions: the three iterative/explode-heavy shapes that
    # were previously untimed (VERDICT r3 next-round #6)
    "graph_pagerank_nations",
    "text_repetition",
    "events_funnel",
    # round-4 new families with a distinct scale shape: PQ/ADC codebook
    # training + LUT probe, and the corpus-wide 8-gram overlap join
    "ann_pq_topk",
    "corpus_decontaminate",
    # round-5 additions: the whole training-prep pipeline composed into
    # one plan (scrub -> quality -> dedup -> split -> decontaminate),
    # and the production two-stage retrieval path (LSH filter + exact
    # re-rank)
    "corpus_e2e_funnel",
    "ann_lsh_rerank_topk",
    # round-5 third wave: the single-pass moment sweep (every Pearson
    # pair from one aggregation) and the co-partitioned cohort matrix
    "stats_corr_matrix",
    "events_cohort_matrix",
    # round-5 fourth wave: hybrid retrieval (two full rankings fused
    # with integer RRF — lexical + vector paths in one plan)
    "rank_rrf_fusion",
    # round-5 fifth wave: the steady-state ingestion dedup (batch bands
    # probing the index), the 64x64 outer-product accumulation, and the
    # double global-sort Z-order layout comparison
    "dedup_incremental_index",
    "embed_covariance",
    "scale_zorder_locality",
    # round-6 additions: trained-BPE tokenization (driver-side train +
    # 50-deep codegen replace chain), the chunk->embed->index->dedup
    # composite, the 16-counter AMS F2 sketch, and the interval-overlap
    # month explode
    "corpus_bpe_tokenize",
    "embed_e2e_pipeline",
    "sketch_ams_f2",
    "range_month_in_flight",
    # round-7 additions (VERDICT r6 #6): the events family was the
    # largest module with no window-heavy representative in the bench —
    # these are its three most expensive sweeps at sf0.1 (survival-curve
    # windows, minute-grid concurrency explode, multi-touch attribution)
    "events_survival_km",
    "events_peak_concurrency",
    "events_attribution_touch",
    # round-7: the data-scaled Pregel-shape iterative join loop
    "graph_pagerank_users",
    # round-7 waves 3/4: the zone-map double-layout scan and the
    # 5-round s-core peeling loop (the two new shapes whose cost could
    # drift — the other wave ops are bounded-aggregate plans)
    "scale_minmax_pruning",
    "graph_s_core_peeling",
    # round-8 additions (VERDICT r7 #6): the two remaining untimed
    # iterative/multi-pass shapes from r7 (6-round LPA, multi-prefix
    # matryoshka rescoring) plus this round's new loops — the 5-round
    # min-label CC, the 3-round integer Lloyd k-means, and the
    # bottom-k pair grid with its exact hash-space twin
    "graph_lpa_communities",
    "ann_matryoshka_recall",
    "graph_connected_components",
    "embed_kmeans_sse",
    "sketch_kmv_jaccard",
    # round-9 additions (VERDICT r8 #6): the previously-unbenched heavy
    # tail — the LSH->CC embedding dedup (the single most expensive
    # Spark-side op in the scale ledger), wedge-counting triangles, the
    # suffix-mass containment dedup, and the multi-round BFS backbone —
    # plus this round's two newborns (frozen-weight quality classifier,
    # keep-first paragraph dedup)
    "dedup_embedding_cosine",
    "graph_triangle_count",
    "dedup_substring_mass",
    "graph_bfs_backbone",
    "text_quality_classifier",
    "corpus_dedup_paragraphs",
    "stats_bootstrap_ci",
    "scale_merge_binpack",
    # round-9 second wave: the content-defined chunking double-window
    # pipeline, the K x |days| sign-flip resampler, the checkpointed
    # group-domain pair grid, and the lnc-normalized vector-space
    # retrieval (4 corpus passes — the costliest of the triad)
    "corpus_cdc_chunking",
    "stats_permutation_test",
    "stats_kendall_tau",
    "rank_smart_lnc_ltc",
    # round-9 third wave: the two new shapes whose cost could drift —
    # the 4-round Katz join loop and the Kneser-Ney corpus pass (one
    # explode->type-frame shuffle feeding four re-aggregations); the
    # wave's other newborns are bounded-cell/daily-frame aggregates
    "graph_katz_centrality",
    "text_kneser_ney_bigram",
    # round-11 newborns: the k-means + capped-pair semantic prune (the
    # round's only new iterative+pair-grid shape) and the broadcast
    # gram-probe decontamination against a supplied eval table
    "dedup_semdedup_prune",
    "corpus_decontaminate_vs",
]


def _bench_converter(spark, sf_dir: str, n_rows: int = 100_000) -> float:
    """Reference-workload throughput: xlsx -> NDJSON, seconds.

    The fixture (lineitem head rendered to xlsx) is built once and
    cached in /tmp; only the convert() call is timed.
    """
    import tempfile

    import duckdb

    from catme_etl_j_spark.converter import convert
    from catme_etl_j_spark.converter.xlsx_writer import write_xlsx

    tag = os.path.basename(sf_dir.rstrip("/"))
    fixture = f"/tmp/catme_bench_{tag}_{n_rows}.xlsx"
    if not os.path.exists(fixture):
        rows = duckdb.sql(
            f"SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, "
            f"l_returnflag, strftime(l_shipdate, '%Y-%m-%d') FROM "
            f"'{sf_dir}/lineitem.parquet' ORDER BY l_orderkey, l_linenumber "
            f"LIMIT {n_rows}"
        ).fetchall()
        header = ["orderkey", "partkey", "quantity", "extendedprice", "returnflag", "shipdate"]
        write_xlsx(fixture + ".tmp", {"lineitem": [header] + [list(r) for r in rows]})
        os.replace(fixture + ".tmp", fixture)
    # min-of-2: the first conversion pays one-time mapInArrow/binaryFile
    # codegen + Python-worker spawn; steady state is the cluster number.
    out = os.path.join(tempfile.mkdtemp(prefix="bench_conv_"), "out.ndjson")
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        convert(fixture, "NDJSON", out, overwrite=True, spark=spark)
        best = min(best, time.time() - t0)
    return round(best, 3)


def _bench_converter_parallel(
    spark, sf_dir: str, n_files: int = 8, rows_per_file: int = 12_500
) -> float:
    """Scale-path throughput: the same 100k rows split across 8 files,
    converted via glob read + partitioned NDJSON write. Parallelism is
    per-file (one unsplittable sheet stream each) — this is the number
    that scales with the cluster, vs the serial single-file case above.
    """
    import tempfile

    import duckdb

    from catme_etl_j_spark.converter import convert
    from catme_etl_j_spark.converter.xlsx_writer import write_xlsx

    tag = os.path.basename(sf_dir.rstrip("/"))
    fdir = f"/tmp/catme_bench_{tag}_{n_files}x{rows_per_file}"
    if not os.path.isdir(fdir):
        os.makedirs(fdir + ".tmp", exist_ok=True)
        rows = duckdb.sql(
            f"SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, "
            f"l_returnflag, strftime(l_shipdate, '%Y-%m-%d') FROM "
            f"'{sf_dir}/lineitem.parquet' ORDER BY l_orderkey, l_linenumber "
            f"LIMIT {n_files * rows_per_file}"
        ).fetchall()
        header = ["orderkey", "partkey", "quantity", "extendedprice", "returnflag", "shipdate"]
        for i in range(n_files):
            chunk = rows[i * rows_per_file : (i + 1) * rows_per_file]
            write_xlsx(
                os.path.join(fdir + ".tmp", f"part{i}.xlsx"),
                {"lineitem": [header] + [list(r) for r in chunk]},
            )
        os.replace(fdir + ".tmp", fdir)
    out = os.path.join(tempfile.mkdtemp(prefix="bench_conv_par_"), "out")
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        convert(
            os.path.join(fdir, "*.xlsx"),
            "NDJSON",
            out,
            overwrite=True,
            single_file=False,
            spark=spark,
        )
        best = min(best, time.time() - t0)
    return round(best, 3)


def _bench_converter_bigsheet(spark, sf_dir: str) -> float:
    """The reference's headline size (VERDICT r8 #5): ONE serial
    conversion of the cached 1.2M-row / ~492 MB-sheet-XML single-sheet
    workbook (tools/gen_bigxlsx.py builds it deterministically on first
    use). Single run, not min-of-N — at ~85 s the steady-state number
    IS the number, and the memory pin lives in
    tests/test_converter.py::test_bigsheet_conversion_bounded_memory
    (Python-worker peak VmHWM < 150 MB, measured 125 MB). rows/sec =
    1_200_000 / this entry's seconds. The fixture does not depend on
    ``sf_dir``."""
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(here, "tools"))
    import gen_bigxlsx

    from catme_etl_j_spark.converter import convert

    fixture = gen_bigxlsx.generate(os.path.join(here, ".scaledata", "bigsheet.xlsx"))
    out = os.path.join(tempfile.mkdtemp(prefix="bench_conv_big_"), "out.ndjson")
    t0 = time.time()
    convert(fixture, "NDJSON", out, overwrite=True, spark=spark)
    elapsed = round(time.time() - t0, 3)
    os.remove(out)
    return elapsed


# Converter bench paths by key: each takes (spark, sf_dir) and returns
# its own seconds (see each docstring); they carry no construct/exec
# split.
CONVERTERS = {
    "convert_xlsx_ndjson": _bench_converter,
    "convert_xlsx_parallel_8files": _bench_converter_parallel,
    "convert_xlsx_bigsheet_1m2rows": _bench_converter_bigsheet,
}
BIGSHEET = "convert_xlsx_bigsheet_1m2rows"
# The pinned machine-speed control (VERDICT r10 #2): a named run always
# times it first, so every receipt carries its own anchor.
CONTROL = "q03_shipping_priority"


def time_query(spark, query, sf_dir: str) -> dict[str, list[float]]:
    """Time one registered query end to end — the one per-query bench
    protocol. Every run clears the session cache (a query that
    .cache()s a multi-consumer intermediate would otherwise serve the
    runs after the first from memory), constructs the frame (driver
    planning plus any eager checkpoint or bounded-collect jobs), then
    computes it through the ``noop`` sink. One untimed warm-up pays the
    session's one-time costs (a file's first read infers its schema,
    file listing, codegen, Python-worker spawn); then median-of-3, and
    sub-second queries get 2 more timed runs (median-of-5), because
    their run-over-run jitter (~±0.06 s) is a large relative error only
    below ~1 s.

    Returns per-run ``construct_s``, ``exec_s`` and ``samples``; each
    sample is exactly the sum of its two rounded parts."""
    runs: dict[str, list[float]] = {"samples": [], "construct_s": [], "exec_s": []}

    def run_once() -> tuple[float, float]:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = query(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(t1 - t0, 3), round(time.perf_counter() - t1, 3)

    run_once()  # warm-up
    for i in range(5):
        if i == 3 and sorted(runs["samples"])[1] >= 1.0:
            break
        construct_s, exec_s = run_once()
        runs["construct_s"].append(construct_s)
        runs["exec_s"].append(exec_s)
        runs["samples"].append(round(construct_s + exec_s, 3))
    return runs


def entries(names: list[str]) -> list[str]:
    """The entries a run times, in order. No names: HEADLINE, then the
    converters. Otherwise the q03 control, then the names — any
    registered query or CONVERTERS key."""
    if not names:
        return HEADLINE + list(CONVERTERS)
    known = entry_mod.queries().keys() | CONVERTERS.keys()
    unknown = [n for n in names if n not in known]
    if unknown:
        sys.exit(f"bench.py: not a registered query or converter: {' '.join(unknown)}")
    return [CONTROL] + [n for n in dict.fromkeys(names) if n != CONTROL]


def run_session(spark, sf_dir: str, names: list[str]):
    """Time ``names`` in order in one session. Returns ({name: median
    seconds}, {name: time_query record}); converters have no record."""
    queries = entry_mod.queries()
    # Warm the JVM/session so the first timed query doesn't pay startup.
    spark.range(1000).selectExpr("sum(id)").collect()
    timings: dict[str, float] = {}
    raw: dict[str, dict[str, list[float]]] = {}
    for name in names:
        if name in CONVERTERS:
            timings[name] = CONVERTERS[name](spark, sf_dir)
            continue
        raw[name] = time_query(spark, queries[name], sf_dir)
        samples = sorted(raw[name]["samples"])
        timings[name] = samples[len(samples) // 2]
    return timings, raw


def _run_child(names: list[str], **env: str):
    """One fresh-JVM session of ``names`` in a child interpreter: its
    (timings, raw), or None (stderr tail reported) if it printed none."""
    import subprocess

    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *names],
        env=dict(os.environ, SPARK_GRAFT_BENCH_CHILD="1", **env),
        capture_output=True, text=True,
    )
    out = {}
    for line in r.stdout.splitlines():
        tag, _, payload = line.partition(" ")
        if tag in ("CHILD_TIMINGS", "CHILD_SAMPLES"):
            out[tag] = json.loads(payload)
    if "CHILD_TIMINGS" not in out:
        sys.stderr.write(
            f"# bench child produced no timings (rc={r.returncode}); "
            f"stderr tail: {r.stderr[-500:]}\n"
        )
        return None
    return out["CHILD_TIMINGS"], out.get("CHILD_SAMPLES", {})


# The core-scaling probe set (VERDICT r11 #1a): the heaviest genuinely
# data-parallel HEADLINE paths plus the slice-parallel bigsheet
# conversion, run by `BENCH_SCALE=1 python bench.py` at sf1.0
# (`.scaledata/sf1.0`, built by tools/gen_scale.py) at 8 and then 32
# cores in fresh JVM sessions. The default sf0.1 bench cannot show
# core scaling — nearly every query there sits on fixed driver-side
# floors (AQE replans, checkpoint materializations, Arrow plan init) —
# so this probe is the receipt that the engine's heavy paths actually
# parallelize. Results print as one JSON line (speedup_8to32 per
# query) and append to BENCH_LOG.jsonl under BENCH_RECORD=1.
SCALE_SET = [
    "q01_pricing_summary",
    "dedup_minhash_keep",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "dedup_winnow_pairs",
    "dedup_ngram_jaccard_capped",
    "dedup_substring_mass",
    "ann_nn_within_label",
    "corpus_e2e_funnel",
    "sketch_kmv_jaccard",
    "convert_xlsx_bigsheet_1m2rows",
]


def _run_scale_probe() -> None:
    import math

    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_SF_DIR", os.path.join(here, ".scaledata", "sf1.0")
    )
    per_cpus: dict[str, dict[str, float]] = {}
    for cpus in ("8", "32"):
        got = _run_child(SCALE_SET, SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_SF_DIR=sf_dir)
        if got is None:
            sys.exit(f"# scale child cpus={cpus} failed")
        per_cpus[cpus], raw = got
        if os.environ.get("BENCH_RECORD") == "1":
            write_bench_log(
                tool=f"bench.py[scale,c{cpus}]", sf_dir=sf_dir,
                timings=per_cpus[cpus], raw=raw, scale_cpus=cpus,
            )
        sys.stderr.write(f"# scale cpus={cpus}: {per_cpus[cpus]}\n")
    qs: dict[str, dict] = {}
    ratios: list[float] = []
    for name, c8 in per_cpus["8"].items():
        c32 = per_cpus["32"].get(name)
        if not c32:
            continue
        sp = round(c8 / c32, 3)
        qs[name] = {"c8": c8, "c32": c32, "speedup_8to32": sp}
        ratios.append(sp)
    geo = (
        round(math.exp(sum(math.log(x) for x in ratios) / len(ratios)), 3)
        if ratios
        else None
    )
    print(
        json.dumps(
            {
                "queries": qs,
                "metric": "core_scaling_8_to_32",
                "value": geo,
                "unit": "x_speedup",
                "sf_dir": sf_dir,
            },
            separators=(",", ":"),
        )
    )


def main() -> None:
    """``python bench.py [name ...]``: time HEADLINE and the converters,
    or the q03 control and then the named entries (see ``entries``)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") == "1":
        timings, raw = run_session(get_spark("bench"), sf_dir, sys.argv[1:])
        print("CHILD_TIMINGS " + json.dumps(timings))
        print("CHILD_SAMPLES " + json.dumps(raw))
        return
    if os.environ.get("BENCH_SCALE") == "1":
        _run_scale_probe()
        return
    names = entries(sys.argv[1:])
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    # VERDICT r5 #6: single-session numbers carry JVM-session noise
    # (the same binary measured one query at 2.80 s and 4.69 s
    # back-to-back; r4 chased four phantom regressions and r5's only
    # "regressions" were byte-identical converter code +20/25%). Run
    # the whole protocol in N INDEPENDENT JVM sessions (subprocess
    # re-exec) and report per-query MINIMA — the minimum across
    # sessions estimates the noise floor, which is the number that
    # tracks code changes. The converter benches get a fresh JVM in
    # every child session for free.
    n_sessions = int(os.environ.get("SPARK_GRAFT_BENCH_SESSIONS", "2"))
    per_session: list[dict[str, float]] = []
    per_session_raw: list[dict[str, dict[str, list[float]]]] = []
    if n_sessions > 1:
        for i in range(n_sessions):
            # the ~85 s bigsheet conversion runs in session 0 only (it
            # is serial and single-shot; min-of-sessions handles the
            # key being absent elsewhere)
            got = _run_child(names if i == 0 else [n for n in names if n != BIGSHEET])
            if got is not None:
                per_session.append(got[0])
                per_session_raw.append(got[1])
    if not per_session:  # single session, or every child spawn failed
        timings1, raw1 = run_session(get_spark("bench"), sf_dir, names)
        per_session = [timings1]
        per_session_raw = [raw1]

    timings = {
        name: min(s[name] for s in per_session if name in s)
        for name in per_session[0]
    }
    if len(per_session) > 1:
        sys.stderr.write(f"# per-query min of {len(per_session)} JVM sessions\n")

    total = round(sum(timings.values()), 3)

    # Round-over-round deltas vs the most recent driver-recorded
    # BENCH_r{N}.json, so regressions are visible at a glance (stderr —
    # stdout stays the single JSON line the driver parses).
    prev = _load_previous_round()
    # VERDICT r9 #3: report the SHARED-set subtotal alongside the
    # headline total, so one-off anchors added to HEADLINE (the ~60 s
    # serial bigsheet conversion) can't mask drift on the queries both
    # rounds measured. The bigsheet anchor is excluded even when both
    # rounds carry it: it is single-shot serial I/O whose minute-scale
    # jitter would swamp the whole relational signal (the exact
    # masking this subtotal exists to prevent).
    shared = sorted(
        k
        for k in timings
        if k in prev and k != "convert_xlsx_bigsheet_1m2rows"
    )
    shared_subtotal = round(sum(timings[k] for k in shared), 3)
    if prev:
        sys.stderr.write("\n")
        for name, t in timings.items():
            p = prev.get(name)
            if p:
                sys.stderr.write(f"# {name}: {t:.3f}s vs {p:.3f}s prev ({t - p:+.3f})\n")
        prev_total = sum(v for v in prev.values() if isinstance(v, (int, float)))
        prev_shared = round(sum(prev[k] for k in shared), 3)
        sys.stderr.write(f"# total: {total:.3f}s vs {prev_total:.3f}s prev\n")
        sys.stderr.write(
            f"# shared set ({len(shared)} queries): {shared_subtotal:.3f}s "
            f"vs {prev_shared:.3f}s prev\n"
        )

    # VERDICT r11 #6: the driver caps its artifact tail, and BENCH_r10
    # lost its head mid-queries-dict, disabling a whole round's perf
    # comparison. Emit the per-query dict FIRST and compact (no spaces)
    # so a head-truncated copy still yields nearly every per-query pair
    # to the scraper in _load_previous_round (which accepts both the
    # spaced r<=11 format and this one).
    print(
        json.dumps(
            {
                "queries": timings,
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "shared_set_n": len(shared),
                "shared_set_subtotal": shared_subtotal,
            },
            separators=(",", ":"),
        )
    )

    if os.environ.get("BENCH_RECORD") == "1":
        write_bench_log(
            tool="bench.py",
            sf_dir=sf_dir,
            timings=timings,
            raw={
                name: {
                    k: [x for sess in per_session_raw for x in sess.get(name, {}).get(k, [])]
                    for k in ("samples", "construct_s", "exec_s")
                }
                for name in timings
                if name not in CONVERTERS
            },
            n_sessions=len(per_session),
        )


def write_bench_log(
    tool: str,
    sf_dir: str,
    timings: dict[str, float],
    raw: dict[str, dict[str, list[float]]],
    **extra,
) -> None:
    """Append one replayable receipt to BENCH_LOG.jsonl (VERDICT r10 #2):
    raw per-query samples (not just medians) with each sample's
    construct_s/exec_s split, the pinned q03 control, and an env
    fingerprint, so any later reader can re-run the same tool and
    compare like-for-like. Opt-in via BENCH_RECORD=1."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:
        load1 = load5 = None
    entry = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "tool": tool,
        "sf_dir": sf_dir,
        "control_q03": timings.get("q03_shipping_priority"),
        "queries": {
            name: {"median": timings[name], "samples": [], **raw.get(name, {})}
            for name in sorted(timings)
        },
        "env": {
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "load_avg_1m": load1,
            "load_avg_5m": load5,
        },
        **extra,
    }
    with open(os.path.join(here, "BENCH_LOG.jsonl"), "a") as fh:
        fh.write(json.dumps(entry) + "\n")


def _load_previous_round() -> dict[str, float]:
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    if not rounds:
        return {}
    path = max(rounds)[1]
    try:
        with open(path) as f:
            doc = json.load(f)
        # the driver wraps our JSON line under "parsed" — but has been
        # seen recording "parsed": null with the raw line only in
        # "tail" (BENCH_r09); fall back to extracting the queries dict
        # from the tail text
        parsed = doc.get("parsed") or doc
        if isinstance(parsed, dict) and parsed.get("queries"):
            return parsed["queries"]
        if isinstance(doc.get("tail"), str):
            tail = doc["tail"]
            m = re.search(r'"queries":\s*(\{.*?\}),\s*"(sf|metric)"', tail, re.S)
            if m:
                return json.loads(m.group(1))
            # the driver may truncate the HEAD of the line (BENCH_r10's
            # tail starts mid-key): scrape "name": number pairs from
            # the segment before the closing "}" of the queries dict,
            # dropping the first pair if its key was cut off
            # a key whose head was cut off has no opening quote, so the
            # findall pattern skips it by construction — every match is
            # a complete pair (\s* accepts both the spaced r<=11 format
            # and the compact r12+ one)
            seg = re.split(r'\},\s*"(sf|metric)"', tail)[0]
            pairs = re.findall(r'"([A-Za-z0-9_]+)":\s*([0-9.]+)', seg)
            if pairs:
                return {k: float(v) for k, v in pairs}
        return {}
    except (OSError, json.JSONDecodeError, AttributeError):
        return {}


if __name__ == "__main__":
    main()
