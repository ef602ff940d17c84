#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of catme_etl_j_spark.

    python3 perfbench/run.py --workload {convert,queries} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One invocation is one fresh Python
process with one ``local[nproc]`` session:

1. set-up: process start until ``get_spark()`` returned and
   ``queries()`` was imported (``setup_s`` is the median of this and
   ``SETUP_PROBES`` more fresh processes that only set up and exit);
2. inputs are generated from the seed (cached per seed, never timed);
3. a cold pass runs every op once in the declared order (``cold_s``,
   printed but not a metric: see ``END_TO_END``);
4. every op's output is checked (DuckDB twins for queries, recorded
   row count + sha256 for conversions);
5. steady passes, each in a seed-shuffled op order: ``--seconds`` over
   ``PASS_S`` of them, at least ``MIN_STEADY``; ``wall_s`` is the sum
   over ops of each op's median steady time.

With ``--trace 1`` the steady passes alternate traced and plain: traced
passes record spans, job groups and Spark's event log, and yield the
per-layer metrics; plain passes give the tracing overhead.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end ones untraced, per-layer ones
traced). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_PROBES = 1  # fresh processes that only set up, beside the main one
# --seconds becomes a fixed number of steady passes of a nominal PASS_S
# each (a pass takes 3-6 s on 4 cores). Op times still fall from pass to
# pass as the JVM compiles hot code; a time-bounded loop would sit a
# faster commit further down that curve and credit it twice.
PASS_S = 4.0
MIN_STEADY = 2
MIN_STEADY_TRACED = 6  # traced and plain alternate; overhead = median difference

sys.path.insert(0, HERE)

from tracing import (  # noqa: E402
    Tracer,
    WorkerMemory,
    drop_event_log,
    process_age_s,
    read_event_log,
    self_time,
    task_skew,
    wrap_attr,
    wrap_everywhere,
)

import workloads as W  # noqa: E402

# cold_s (the first pass, one sample per process) is printed but not a
# metric: on a shared 4-vCPU host its spread over ten seeds reached
# 0.29 of its median, past the 0.25 bound of the timing metrics.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "worker_rss_peak_mb": "MB",
}
LAYER_METRICS = {
    "operators.construct_s": "s",
    "operators.self_s": "s",
    "operators.construct_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.python_ms": "ms",
    "spark.python_start_ms": "ms",
    "spark.shuffle_write_mb": "MB",
    "spark.task_ms_sum": "ms",
    "spark.task_skew": "ratio",
    "sources.load_s": "s",
    "sources.load_calls": "count",
    "converter.read_s": "s",
    "converter.read_self_s": "s",
    "converter.spool_s": "s",
    "converter.infer_s": "s",
    "converter.slices": "count",
    "converter.sink_s": "s",
    "converter.output_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
    "trace.span_gap_pct": "%",
    "trace.count_mismatches": "count",
    "trace.tracker_log_job_diff": "count",
}
OP_METRICS = {
    "construct_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
}
for _op in W.CONVERT_OPS + W.QUERY_OPS:
    for _k, _u in OP_METRICS.items():
        LAYER_METRICS[f"{_op}.{_k}"] = _u


def pin_environment(trace: bool) -> int:
    """Session shape and scratch locations, fixed before pyspark loads.
    Everything the run writes stays under the work directory."""
    nproc = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(WORK, k) for k in ("spark-local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    env["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    env["TMPDIR"] = dirs["tmp"]
    # Python workers import the package by name: without the root on
    # their path every Arrow task fails with ModuleNotFoundError.
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = [
        "--driver-java-options",
        f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    ]
    if trace:
        for conf in (
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file:{dirs['eventlog']}",
        ):
            args += ["--conf", conf]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return nproc


def start_session():
    """The set-up every sample measures: session plus query registry."""
    from catme_etl_j_spark.session import get_spark

    spark = get_spark("perfbench")
    import __spark_entry__

    __spark_entry__.queries()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup_probe() -> None:
    spark = start_session()
    age = process_age_s()
    stop_session(spark)
    print(json.dumps({"setup_s": age}))


def probe_setups(n: int) -> list[float]:
    out = []
    for _ in range(n):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--setup-probe"],
            cwd=ROOT,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            timeout=120,
            check=True,
        )
        out.append(json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"])
    return out


class Run:
    """One benchmark invocation: passes, checks and their records."""

    def __init__(self, spark, workload, seed: int, tracer: Tracer, corrupt: str | None) -> None:
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.corrupt = corrupt
        self.expected: dict[str, tuple] = {}
        self.pending: list[tuple[str, object]] = []  # cold outcomes, checked later
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []  # {"label", "traced", "times", "spans", "counts", "groups"}
        self.rows: dict[str, int] = {}

    def run_pass(self, label: str, ops, traced: bool) -> dict:
        sc = self.spark.sparkContext
        self.tracer.enabled = traced
        rec = {"label": label, "traced": traced, "times": {}, "groups": {}}
        for op in ops:
            self.tracer.label = f"{label}|{op}"
            # Queries .cache() intermediate frames and Spark reuses them
            # across calls with equal plans; every op execution starts
            # from an empty cache, as a fresh invocation would.
            self.spark.catalog.clearCache()
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op", op=op):
                    outcome = self.wl.run(op)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                continue
            finally:
                if traced:
                    self.tracer.clear_job_group()
            rec["times"][op] = time.perf_counter() - t0
            self.rows.setdefault(op, outcome.rows)
            if traced:  # exact job counts from the live status tracker
                rec["groups"][op] = {
                    ph: len(sc.statusTracker().getJobIdsForGroup(f"{label}|{op}|{ph}"))
                    for ph in ("construct", "exec")
                }
            got = self.wl.check(op, outcome)
            if self.expected:
                self._verify(op, got)
            else:
                self.pending.append((op, got))
        rec["spans"], rec["counts"] = self.tracer.take()
        self.tracer.enabled = False
        self.passes.append(rec)
        return rec

    def set_expected(self, expected: dict[str, tuple]) -> None:
        if self.corrupt is not None:
            rows, check = expected[self.corrupt]
            expected[self.corrupt] = (rows, "corrupted-" + str(check))
        self.expected = expected
        for op, got in self.pending:
            self._verify(op, got)
        self.pending = []

    def _verify(self, op: str, got: tuple) -> None:
        if tuple(got) != tuple(self.expected[op]):
            self.failed += 1
            print(f"MISMATCH {op}: got {got} expected {self.expected[op]}", file=sys.stderr)


def end_to_end(run: Run, setups: list[float], rss_mb: float) -> dict[str, float]:
    steady = [p for p in run.passes[1:] if not p["traced"]]
    per_op = {
        op: statistics.median([p["times"][op] for p in steady if op in p["times"]])
        for op in run.wl.ops
    }
    return {
        "setup_s": statistics.median(setups),
        "wall_s": sum(per_op.values()),
        "worker_rss_peak_mb": rss_mb,
    }


def per_layer(run: Run, log: dict[str, dict]) -> dict[str, float]:
    traced = [p for p in run.passes[1:] if p["traced"]]
    plain = [p for p in run.passes[1:] if not p["traced"]]
    per_pass = []
    op_stats: dict[str, list[dict]] = {}
    gaps = []
    for p in traced:
        spans = p["spans"]
        m = {k: 0.0 for k in LAYER_METRICS}
        task_ms: list[int] = []
        for op_span in (s for s in spans if s["name"] == "op"):
            op = op_span["op"]
            if op not in p["times"]:  # the op raised; counted as failed
                continue
            kids = [s for s in spans if s["parent"] == op_span["id"]]
            kid = {s["name"]: s for s in kids}
            con, exe = kid["construct"], kid["exec"]
            con_s, exe_s = con["end"] - con["start"], exe["end"] - exe["start"]
            op_s = op_span["end"] - op_span["start"]
            gaps.append(abs(op_s - con_s - exe_s) / op_s * 100.0)
            ev = {ph: log.get(f"{p['label']}|{op}|{ph}", {}) for ph in ("construct", "exec")}
            jobs = p["groups"][op]
            st = {
                "construct_s": con_s,
                "exec_s": exe_s,
                "jobs": jobs["construct"] + jobs["exec"],
                "stages": sum(e.get("stages", 0) for e in ev.values()),
                "tasks": sum(e.get("tasks", 0) for e in ev.values()),
                "log_jobs": sum(e.get("jobs", 0) for e in ev.values()),
            }
            op_stats.setdefault(op, []).append(st)
            if con["layer"] == "operators":
                m["operators.construct_s"] += con_s
                m["operators.self_s"] += self_time(spans, con)
                m["operators.construct_jobs"] += jobs["construct"]
            else:
                m["converter.read_s"] += con_s
                m["converter.read_self_s"] += self_time(spans, con)
                m["converter.sink_s"] += exe_s
                m["converter.output_mb"] += run.wl.output_mb(op)
            m["spark.exec_s"] += exe_s
            m["spark.jobs"] += st["jobs"]
            m["spark.stages"] += st["stages"]
            m["spark.tasks"] += st["tasks"]
            for e in ev.values():
                m["spark.python_ms"] += e.get("python_ms", 0)
                m["spark.python_start_ms"] += e.get("python_start_ms", 0)
                m["spark.shuffle_write_mb"] += e.get("shuffle_write_bytes", 0) / 1e6
                task_ms += e.get("task_ms", [])
        for s in spans:
            if s["name"] == "load_table":
                m["sources.load_s"] += s["end"] - s["start"]
            elif s["name"] == "spool":
                m["converter.spool_s"] += s["end"] - s["start"]
            elif s["name"] == "infer":
                m["converter.infer_s"] += s["end"] - s["start"]
        m["sources.load_calls"] = p["counts"].get("load_table_calls", 0)
        m["converter.slices"] = p["counts"].get("slices", 0)
        m["spark.task_ms_sum"] = sum(task_ms)
        m["spark.task_skew"] = task_skew(task_ms)
        m["trace.wall_s"] = sum(p["times"].values())
        per_pass.append(m)
    out = {k: statistics.median([m[k] for m in per_pass]) for k in LAYER_METRICS}
    for op, sts in op_stats.items():
        for k in ("construct_s", "exec_s"):
            out[f"{op}.{k}"] = statistics.median(st[k] for st in sts)
        for k in ("jobs", "stages", "tasks"):
            out[f"{op}.{k}"] = sts[0][k]
    mismatches = sum(
        1
        for sts in op_stats.values()
        if len({(st["jobs"], st["stages"], st["tasks"]) for st in sts}) > 1
    )
    plain_wall = statistics.median(sum(p["times"].values()) for p in plain)
    out["trace.overhead_s"] = out["trace.wall_s"] - plain_wall
    out["trace.overhead_pct"] = out["trace.overhead_s"] / plain_wall * 100.0
    out["trace.span_gap_pct"] = max(gaps)
    out["trace.count_mismatches"] = mismatches
    out["trace.tracker_log_job_diff"] = sum(
        abs(st["jobs"] - st["log_jobs"]) for sts in op_stats.values() for st in sts
    )
    return out


def install_wrappers(tracer: Tracer) -> None:
    """Spans around the converter's internal steps and every binding of
    ``load_table``; active only while the tracer is enabled."""
    import catme_etl_j_spark.converter.reader as reader
    import catme_etl_j_spark.converter.xlsx as xlsx
    import catme_etl_j_spark.sources.tables as tables

    wrap_everywhere(tables.load_table, tracer, "load_table", "catme_etl_j_spark")
    wrap_attr(reader, "infer_columns", tracer, "infer")
    wrap_attr(xlsx.XlsxWorkbook, "spool_sheet", tracer, "spool")
    wrap_attr(
        reader,
        "combine_slice_scans",
        tracer,
        "combine_slices",
        on_result=lambda res: tracer.count("slices", len(res[0] or ())),
    )


def versions(nproc: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "loadavg": os.getloadavg(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(W.OPS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt-expected",
        metavar="OP",
        help="self-test: alter OP's expected output so every run of it must count as failed",
    )
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    trace = bool(args.trace)
    nproc = pin_environment(trace and not args.setup_probe)
    if args.setup_probe:
        setup_probe()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    ops = W.OPS[args.workload]
    if args.corrupt_expected is not None and args.corrupt_expected not in ops:
        ap.error(f"--corrupt-expected must be one of {ops}")

    spark = start_session()
    setups = [process_age_s()]
    env_info = versions(nproc)
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    import fixtures

    tracer = Tracer(spark.sparkContext)
    if trace:
        install_wrappers(tracer)
    cache = os.path.join(WORK, "fixtures")
    if args.workload == "queries":
        tables_dir, manifest = fixtures.tables(cache, args.seed, W.TABLES_SF)
        workload = W.Queries(spark, tables_dir, tracer)
    else:
        fx_dir, manifest = fixtures.workbooks(
            cache, args.seed, W.SHEET_ROWS, W.GLOB_FILES, W.GLOB_ROWS
        )
        workload = W.Convert(spark, fx_dir, manifest, os.path.join(WORK, "out"), tracer)

    phase("fixtures")
    run = Run(spark, workload, args.seed, tracer, args.corrupt_expected)
    app_id = spark.sparkContext.applicationId
    with WorkerMemory() as mem:
        run.run_pass("cold", ops, traced=False)
        phase("cold")
        run.set_expected(run.wl.expected())
        phase("check")
        n_steady = max(
            MIN_STEADY_TRACED if trace else MIN_STEADY, math.ceil(args.seconds / PASS_S)
        )
        for k in range(n_steady):
            order = list(ops)
            run.rng.shuffle(order)
            run.run_pass(f"p{k}", order, traced=trace and k % 2 == 0)
        phase("steady")
    stop_session(spark)
    phase("stop")

    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        metrics = per_layer(run, read_event_log(log_dir, app_id))
        drop_event_log(log_dir, app_id)
        units = LAYER_METRICS
    else:
        setups += probe_setups(SETUP_PROBES)
        metrics = end_to_end(run, setups, mem.peak_mb)
        units = END_TO_END
    phase("report")

    env_info.update(
        workload=args.workload,
        seed=args.seed,
        steady_passes=len(run.passes) - 1,
        phase_s=phases,
        setup_samples_s=setups,
        fixture=manifest,
        failed_ratio=run.failed / run.attempted,
        rows_per_pass=run.rows,
        cold_op_s=run.passes[0]["times"],
        steady_op_s={
            op: [round(p["times"].get(op, -1), 3) for p in run.passes[1:]] for op in ops
        },
    )
    print(json.dumps({"env": env_info}))
    for name, value in metrics.items():
        print(f"{name:34s} {value:14.4f} {units[name]}")
    print(f"{'cold_s':34s} {sum(run.passes[0]['times'].values()):14.4f} s (first pass)")
    print(f"{'failed_ratio':34s} {run.failed / run.attempted:14.4f} ({run.failed}/{run.attempted})")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
