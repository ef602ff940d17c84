"""Measurement helpers: spans, job-group counts, Spark event-log parsing
and process memory.

Spans are recorded by the benchmark around calls into the program's
public functions (and, in a traced run, around a few internal converter
steps reached by wrapping module attributes from here); nothing inside
the program is edited. Everything is kept in memory and summarised when
the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict

# ------------------------------------------------------------------ spans


class Tracer:
    """Nested wall-clock spans and Spark job groups. ``enabled=False``
    makes ``span`` and ``job_group`` no-ops, which is how untraced passes
    run."""

    def __init__(self, sc) -> None:
        self.enabled = False
        self.sc = sc
        self.label = ""  # job-group prefix of the op being run
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._counts: dict[str, int] = defaultdict(int)

    def job_group(self, phase: str) -> None:
        """Run the following Spark jobs under group ``<label>|<phase>``."""
        if self.enabled:
            self.sc.setJobGroup(f"{self.label}|{phase}", phase)

    def clear_job_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self._counts[name] += n

    def take(self) -> tuple[list[dict], dict[str, int]]:
        """Spans and counts recorded since the last call."""
        spans, counts = self.spans, dict(self._counts)
        self.spans, self._counts = [], defaultdict(int)
        return spans, counts


def self_time(spans: list[dict], rec: dict) -> float:
    """Span duration minus the time its direct children cover (children
    of one span never overlap: the benchmark is single-threaded)."""
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == rec["id"])
    return (rec["end"] - rec["start"]) - kids


def wrap_attr(owner, attr: str, tracer: Tracer, span_name: str, on_result=None) -> None:
    """Replace ``owner.attr`` by a wrapper that records a span (and lets
    ``on_result`` inspect the return value)."""
    fn = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            out = fn(*args, **kwargs)
        if on_result is not None:
            on_result(out)
        return out

    wrapper.__wrapped__ = fn
    setattr(owner, attr, wrapper)


def wrap_everywhere(fn, tracer: Tracer, span_name: str, package: str) -> None:
    """Wrap every module-level binding of ``fn`` inside ``package`` (the
    operators import ``load_table`` by name, so each importing module
    holds its own reference); calls are also counted."""

    def wrapper(*args, **kwargs):
        tracer.count(span_name + "_calls")
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == package or name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                setattr(mod, attr, wrapper)


# ------------------------------------------------------------- event log

_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"


def read_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per job group: jobs, executed stages, tasks, task-time list (ms),
    shuffle bytes written and Python worker run/start time (ms).

    Reads the plain-JSON event log (``spark.eventLog.compress=false``);
    call after the session stopped so the log is complete."""
    paths = [
        p
        for p in glob.glob(os.path.join(log_dir, f"*{app_id}*"))
        + glob.glob(os.path.join(log_dir, f"*{app_id}*", f"events_*{app_id}*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    ]
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "task_ms": [],
            "shuffle_write_bytes": 0,
            "python_ms": 0,
            "python_start_ms": 0,
        }
    )
    for p in sorted(paths):
        with open(p) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        out[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[e["Stage Info"]["Stage ID"]] = g
                        out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    if g is None:
                        continue
                    rec = out[g]
                    rec["tasks"] += 1
                    info = e.get("Task Info") or {}
                    rec["task_ms"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    tm = e.get("Task Metrics") or {}
                    rec["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in info.get("Accumulables") or ():
                        name = acc.get("Name")
                        if name == _PY_RUN:
                            rec["python_ms"] += int(acc.get("Update") or 0)
                        elif name == _PY_START:
                            rec["python_start_ms"] += int(acc.get("Update") or 0)
    return dict(out)


def drop_event_log(log_dir: str, app_id: str) -> None:
    """Delete the application's event log (a file, or a rolling-log
    directory) once it has been read."""
    for p in glob.glob(os.path.join(log_dir, f"*{app_id}*")):
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.remove(p)


def task_skew(task_ms: list[int]) -> float:
    """Max over median task time; 1.0 when there are no tasks."""
    if not task_ms:
        return 1.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 1.0


# ---------------------------------------------------------------- memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(d))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def spark_python_workers() -> list[int]:
    """Python processes started by this process's Spark JVM (the
    ``pyspark.daemon`` and the workers it forks)."""
    kids = _children_map()
    jvms = [p for p in kids.get(os.getpid(), []) if _comm(p) == "java"]
    out: list[int] = []
    stack = list(jvms)
    while stack:
        p = stack.pop()
        for c in kids.get(p, []):
            stack.append(c)
            if _comm(c).startswith("python"):
                out.append(c)
    return out


class WorkerMemory:
    """Background sampler of the peak resident set (VmHWM) of Spark's
    Python workers; VmHWM is itself a peak, so sampling only has to
    catch each worker once before it exits."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="worker-rss", daemon=True)

    def sample(self) -> None:
        for pid in spark_python_workers():
            self.peak_mb = max(self.peak_mb, _hwm_mb(pid))

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> WorkerMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
