"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin on the
same sf dir, then compares row count, schema (column names + coarse
types), and order-insensitive values. Usage:

    python tools/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import json
import math
import os
import signal
import sys
import time

import duckdb

# Per-query wall-clock budget. A pathological query must FAIL loudly,
# not wedge the whole sweep (r2 post-mortem: one unvetted O(L^3) query
# produced an empty gate artifact for all 78). SIGALRM interrupts the
# blocking py4j collect() call on the driver thread — but NOT a
# blocking duckdb C call (the handler only runs once Python regains
# the bytecode loop), so an oracle that explodes on a stress fixture
# can outlive the budget; SELFCHECK_SKIP=name1,name2 excludes such
# known-pathological (query, fixture) combinations transparently (the
# ledger entry records them in `skipped`).
QUERY_TIMEOUT_S = int(os.environ.get("SELFCHECK_TIMEOUT_S", "180"))


class QueryTimeout(Exception):
    pass


def _alarm(_sig, _frm):
    raise QueryTimeout(f"exceeded {QUERY_TIMEOUT_S}s budget")


# SELFCHECK_SKIP governance (VERDICT r8 #3). Skips exist for exactly one
# class of run: beyond-gate-scale stress probes where a known
# oracle-pathological (query, fixture) combination would wedge the sweep
# in un-interruptible DuckDB C code (the only recorded case:
# dedup_embedding_cosine's recursive closure on the sf1.0 replica
# fixture — since retired by the bounded-round MATERIALIZED unroll).
# Every evidence-bearing mode — default, gate-window subsets, vanilla-
# session, TZ stress, cpus stress, degenerate-probe — must refuse them,
# so a future red query can never be silently "skipped" out of a sweep
# the round-close contract counts.
SKIP_ALLOWED_MODE_PREFIXES = ("scale-probe",)


def skip_allowed(mode: str) -> bool:
    return mode.startswith(SKIP_ALLOWED_MODE_PREFIXES)

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
from catme_etl_j_spark.session import get_spark  # noqa: E402
from catme_etl_j_spark.sources.tables import TABLES  # noqa: E402


def nonscalar_cols(schema) -> list[str]:
    """Columns whose type the driver's pandas canonicalizer cannot
    sort (array/map/struct) — VERDICT r7 #4. Shared with the pytest
    regression test."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v!r}"
    return repr(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    skip = {s for s in os.environ.get("SELFCHECK_SKIP", "").split(",") if s}

    # Sweep mode, recorded in the ledger (VERDICT r6 #5: the TZ-stress
    # and vanilla-session practices existed but left no evidence).
    # SELFCHECK_VANILLA=1 swaps the repo's session factory for a bare
    # driver-style session (local[8], default 200 shuffle partitions,
    # no UTC/Arrow/AQE conf) — the queries() wrappers must provision
    # session.QUERY_CONF themselves.
    vanilla = os.environ.get("SELFCHECK_VANILLA") == "1"
    parts = ["vanilla-session"] if vanilla else []
    tz = os.environ.get("TZ")
    if tz and tz != "UTC":
        parts.append(f"tz={tz}")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        parts.append(f"cpus={cpus}")
    mode = os.environ.get("SELFCHECK_MODE", "+".join(parts) or "default")
    # Governance gate BEFORE the (expensive) session spin-up so the
    # refusal is loud, immediate, and cheap to regression-test.
    if skip and not skip_allowed(mode):
        print(
            f"ERROR: SELFCHECK_SKIP={','.join(sorted(skip))} is not allowed "
            f"in mode {mode!r} — skips are reserved for explicit scale/"
            f"stress probes (SELFCHECK_MODE=scale-probe-*), never for "
            f"default, gate-window, vanilla, TZ, or degenerate sweeps "
            f"(VERDICT r8 #3: an ungoverned escape hatch is exactly the "
            f"silent truncation the round-close contract exists to prevent)"
        )
        return 2
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("selfcheck-vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    fails: list[str] = []
    t_start = time.time()
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"SKIP {name} (SELFCHECK_SKIP)")
            continue
        t0 = time.time()
        signal.signal(signal.SIGALRM, _alarm)
        signal.alarm(QUERY_TIMEOUT_S)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # Driver-canon parity (VERDICT r7 #4): the driver
            # canonicalizes via pandas sort_values, which cannot sort
            # array/map/struct cells — r7's rank_postings passed this
            # repr()-based local gate and then errored at the driver.
            # Reject structural output types outright so the divergence
            # fails HERE first.
            nonscalar = nonscalar_cols(sdf.schema)
            if nonscalar:
                print(f"FAIL {name}: non-scalar output column(s) {nonscalar} "
                      f"— driver pandas canonicalizer cannot sort these; "
                      f"serialize to a scalar (e.g. array_join)")
                n_fail += 1
                fails.append(name)
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except QueryTimeout as e:
            print(f"FAIL {name}: TIMEOUT: {e}")
            n_fail += 1
            fails.append(name)
            continue
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            fails.append(name)
            continue
        finally:
            signal.alarm(0)
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only) — {len(srows)} rows "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [c.lower() for c in rel.columns]
            otypes = [str(t).upper() for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            fails.append(name)
            continue
        problems = []
        # Type tripwire (convention #5): an uncast SUM(int)/SUM(BIGINT)
        # yields HUGEINT, which repr()s identically to a Python int but
        # hash-mismatches at the driver (r4 post-mortem: both gate fails
        # were exactly this, invisible to the value comparison below).
        bad_types = [f"{c}:{t}" for c, t in zip(ocols, otypes)
                     if "HUGEINT" in t]
        if bad_types:
            problems.append(
                f"oracle emits HUGEINT column(s) {bad_types} — cast to "
                f"BIGINT in the oracle SQL (convention #5)")
        struct_types = [f"{c}:{t}" for c, t in zip(ocols, otypes)
                        if "[]" in t or "STRUCT" in t or "MAP" in t]
        if struct_types:
            problems.append(
                f"oracle emits non-scalar column(s) {struct_types} — the "
                f"driver's pandas canonicalizer cannot sort these "
                f"(VERDICT r7 #4); serialize with array_to_string")
        if sorted(c.lower() for c in scols) != sorted(ocols):
            problems.append(f"columns spark={scols} oracle={ocols}")
        elif len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        else:
            a = _norm_rows([c.lower() for c in scols], srows)
            b = _norm_rows(ocols, orows)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
            fails.append(name)
        else:
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    # One machine-readable summary line + an append-only TRACKED record
    # (SELFCHECK_LOG.jsonl — PROGRESS.jsonl is the driver's own
    # gitignored file), so a truncated/empty driver gate artifact is
    # immediately diagnosable against the full local sweep (VERDICT r3
    # #7). Only full sweeps are recorded — subset runs would pollute
    # the history. Appending is opt-in via SELFCHECK_RECORD=1 (ADVICE
    # r4: an unconditional append dirties the tree on every local
    # verification run); round-final sweeps set the flag deliberately.
    summary = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "sf_dir": sf_dir,
        "n_pass": n_pass,
        "n_fail": n_fail,
        "n_queries": len(queries),
        "subset": sorted(only) if only else None,
        # VERDICT r5 #2: name the failures (an anonymous "1 fail" cost a
        # round of archaeology) and record the sweep's wall time.
        "fails": fails,
        "wall_s": round(time.time() - t_start, 1),
        "mode": mode,
        "skipped": sorted(skip) if skip else None,
    }
    print("SELFCHECK_SUMMARY " + json.dumps(summary))
    # Subset sweeps record too when explicitly opted in (the `subset`
    # field keeps them distinguishable from full sweeps; VERDICT r6 #8
    # wants the beyond-driver-scale threshold probe IN the ledger).
    if os.environ.get("SELFCHECK_RECORD") == "1":
        try:
            with open(os.path.join(os.path.dirname(os.path.dirname(
                    os.path.abspath(__file__))), "SELFCHECK_LOG.jsonl"), "a") as f:
                f.write(json.dumps(summary) + "\n")
        except OSError:
            pass
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
