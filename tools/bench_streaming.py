"""One-shot honest timing of the streaming family (VERDICT r11 #8).

The stream_* queries drain a finite file source with an availableNow
trigger inside their CONSTRUCTOR (start → processAllAvailable → stop)
and return the memory-sink snapshot, so bench_subset's lazy protocol
would time only the snapshot read. This tool times the two phases
separately per query:

* construct_s — builds the streaming frame AND runs the whole
  micro-batch drain (the real work: source listing, trigger planning,
  state store, sink writes);
* snapshot_s — the noop write of the returned snapshot frame (a memory
  sink scan, bounded by the result size).

With BENCH_RECORD=1 the medians land in BENCH_LOG.jsonl via the shared
write_bench_log receipt (tool="bench_streaming.py"), with the q03
control timed first like every other receipt.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import write_bench_log  # noqa: E402
from catme_etl_j_spark.session import get_spark  # noqa: E402

STREAMS = [
    "stream_tumbling_window",
    "stream_sliding_window",
    "stream_session_window",
    "stream_stateful_totals",
    "stream_stream_join",
    "stream_dedup_totals",
]
CONTROL = "q03_shipping_priority"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-streaming")
    queries = entry_mod.queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    n_runs = int(os.environ.get("BENCH_STREAM_RUNS", "3"))

    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}

    def control_once(timed: bool) -> None:
        spark.catalog.clearCache()
        df = queries[CONTROL](spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        if timed:
            raw.setdefault(CONTROL, []).append(round(time.time() - t0, 3))

    control_once(False)
    for _ in range(n_runs):
        control_once(True)
    timings[CONTROL] = sorted(raw[CONTROL])[len(raw[CONTROL]) // 2]

    for name in STREAMS:
        cons: list[float] = []
        snap: list[float] = []

        def run_once(timed: bool) -> None:
            spark.catalog.clearCache()
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            if timed:
                cons.append(round(t1 - t0, 3))
                snap.append(round(t2 - t1, 3))

        run_once(False)
        for _ in range(n_runs):
            run_once(True)
        cm = sorted(cons)[len(cons) // 2]
        sm = sorted(snap)[len(snap) // 2]
        raw[name] = [round(c + s, 3) for c, s in zip(cons, snap)]
        # the headline is the median run total (replayable from raw);
        # construct/snapshot are per-phase medians, so they need not sum to it
        timings[name] = sorted(raw[name])[len(raw[name]) // 2]
        timings[f"{name}.construct"] = cm
        timings[f"{name}.snapshot"] = sm
        raw[f"{name}.construct"] = cons
        raw[f"{name}.snapshot"] = snap
        print(f"# {name}: construct={cm}s snapshot={sm}s", file=sys.stderr)

    print(json.dumps(timings))
    if os.environ.get("BENCH_RECORD") == "1":
        write_bench_log(
            tool="bench_streaming.py", sf_dir=sf_dir, timings=timings, raw=raw,
            n_runs=n_runs,
        )


if __name__ == "__main__":
    main()
