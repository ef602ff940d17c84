"""The round-loop helper's truncation and stop schedule (plans/iterate.py),
on a 3-row spark.range state: each step adds 1 to ``v``, so a frame's
``v`` tells which round produced it."""

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from catme_etl_j_spark.plans.explain import formatted_plan
from catme_etl_j_spark.plans.iterate import iterate


def _run(spark, monkeypatch, rounds, every, stop=None, obs=None):
    """Run iterate and return (log, final, prev): the log lists each
    step's round number and each checkpoint, "E" eager or "L" lazy."""
    log = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, eager=True):
        log.append("E" if eager else "L")
        return real(self, eager)

    monkeypatch.setattr(cls, "localCheckpoint", spy)

    def step(df, k):
        log.append(k)
        nxt = df.select("id", (F.col("v") + 1).alias("v"))
        if obs is not None:
            obs.append(Observation())
            nxt = nxt.observe(obs[-1], F.sum("v").alias("s"))
        return nxt

    state = spark.range(3).select("id", F.lit(0).cast("long").alias("v"))
    final, prev = iterate(state, step, rounds, every=every, stop=stop)
    return log, final, prev


def _v(df):
    return {r["v"] for r in df.collect()}


@pytest.mark.parametrize(
    "rounds, every, want",
    [
        # the frame entering the last round is cadence-truncated: only
        # the final frame takes a lazy checkpoint (graph CC)
        (5, 2, [1, 2, "E", 3, 4, "E", 5, "L"]),
        # it is not: it is lazily truncated before the last round (LPA)
        (6, 2, [1, 2, "E", 3, 4, "E", 5, "L", 6, "L"]),
        (4, 2, [1, 2, "E", 3, "L", 4, "L"]),  # Katz
        # a cadence of at least `rounds` truncates only the audit's two
        # frames (pagerank_users)
        (5, 5, [1, 2, 3, 4, "L", 5, "L"]),
        (3, 1, [1, "E", 2, "E", 3, "L"]),
    ],
)
def test_iterate_truncation_schedule(spark, monkeypatch, rounds, every, want):
    log, final, prev = _run(spark, monkeypatch, rounds, every)
    assert log == want
    assert _v(final) == {rounds}
    assert _v(prev) == {rounds - 1}  # the frame that entered the last round


def test_iterate_every_zero_leaves_lineage_whole(spark, monkeypatch):
    log, final, prev = _run(spark, monkeypatch, 4, 0)
    assert log == [1, 2, 3, 4]
    plan = formatted_plan(final)
    assert "Range" in plan and "ExistingRDD" not in plan
    assert _v(final) == {4} and _v(prev) == {3}


def test_iterate_stops_at_first_true_eager_checkpoint(spark, monkeypatch):
    """stop() reads the round's Observation, which resolves only from an
    eager checkpoint; the loop ends there with no further truncation."""
    obs = []
    log, final, prev = _run(
        spark, monkeypatch, None, 1, stop=lambda: obs[-1].get["s"] == 9, obs=obs
    )
    assert log == [1, "E", 2, "E", 3, "E"]
    assert _v(final) == {3} and _v(prev) == {2}


def test_iterate_reads_stop_only_after_eager_checkpoints(spark, monkeypatch):
    calls = []

    def stop():
        calls.append(1)
        return True

    log, final, _ = _run(spark, monkeypatch, 6, 2, stop=stop)
    assert log == [1, 2, "E"]
    assert len(calls) == 1
    assert _v(final) == {2}
