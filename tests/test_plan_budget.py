"""Shuffle/scan budget regression harness: every (lazily-planned) registry
query has a committed budget of keyed exchanges and file scans at sf0.001
(tests/plan_budget.json). A rewrite that grows a plan past its budget —
an extra shuffle, a duplicate scan — fails here even if results stay
correct; that silent plan growth is exactly what hurts at 100 TB.

Queries whose fn() executes eagerly (streaming drains, iterative loops,
driver-side fits) are excluded — their cost is runtime, not plan shape,
and is covered by their own tests. Budgets are ceilings: a plan that
IMPROVES (fewer exchanges) passes; regenerate the file to ratchet down
(see scripts in git history / the generation snippet in this module's
commit message)."""

from __future__ import annotations

import contextlib
import io
import json
import pathlib

import pytest

from candyspark.plans import collect_registry

SF = "/root/testdata/sf0.001"
BUDGET = json.loads(
    (pathlib.Path(__file__).parent / "plan_budget.json").read_text()
)
REGISTRY = collect_registry()


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_plan_stays_within_budget(spark, name):
    # a stale entry means a query was renamed or lost: its pin would vanish
    assert name in REGISTRY, f"{name}: budgeted but not registered"
    df = REGISTRY[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    got = {
        "hash_exchanges": plan.count("Arguments: hashpartitioning"),
        "scans": sum(
            1
            for ln in plan.splitlines()
            if ln.startswith("Location: InMemoryFileIndex")
        ),
    }
    want = BUDGET[name]
    assert got["hash_exchanges"] <= want["hash_exchanges"], (
        f"{name}: plan grew to {got['hash_exchanges']} keyed exchanges "
        f"(budget {want['hash_exchanges']}) — new shuffle introduced?\n{plan}"
    )
    assert got["scans"] <= want["scans"], (
        f"{name}: plan grew to {got['scans']} file scans "
        f"(budget {want['scans']}) — duplicate scan introduced?\n{plan}"
    )


# ---------------------------------------------------------------------------
# Executed-work budgets for the eager/iterative families (round-4 verdict
# item 5). These 30 queries run their rounds EAGERLY (localCheckpoint /
# bounded driver fits), so the final DataFrame's plan text shows only the
# post-checkpoint stage — a per-round regression (an accidental extra
# exchange inside an 8-round loop, 8x at 100 TB) is invisible to the plan
# budget above. Instead we budget the work actually EXECUTED: total Spark
# jobs and stages for fn() + a noop drain at sf0.001, measured via the
# status tracker under a job group. Stage counts are deterministic at fixed
# data/partitions (verified across trials); an extra exchange per round
# shows up as +rounds stages and fails here.
# ---------------------------------------------------------------------------

EXEC_BUDGET = json.loads(
    (pathlib.Path(__file__).parent / "exec_budget.json").read_text()
)


@pytest.mark.parametrize("name", sorted(EXEC_BUDGET))
def test_executed_work_stays_within_budget(spark, name):
    # a stale entry means a query was renamed or lost: its pin would vanish
    assert name in REGISTRY, f"{name}: budgeted but not registered"
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = f"exec-budget-{name}"
    sc.setJobGroup(tag, tag)
    try:
        REGISTRY[name].fn(spark, SF).write.mode("overwrite").format(
            "noop"
        ).save()
    finally:
        sc.setJobGroup(None, None)
    jobs = tracker.getJobIdsForGroup(tag)
    stages = sum(
        len(tracker.getJobInfo(j).stageIds)
        for j in jobs
        if tracker.getJobInfo(j)
    )
    want = EXEC_BUDGET[name]
    assert len(jobs) <= want["exec_jobs"], (
        f"{name}: executed {len(jobs)} jobs (budget {want['exec_jobs']}) — "
        "an extra eager action (count/collect/checkpoint) crept into the loop?"
    )
    assert stages <= want["exec_stages"], (
        f"{name}: executed {stages} stages (budget {want['exec_stages']}) — "
        "an extra per-round shuffle multiplies at 100 TB; find it with "
        "statusTracker or the Spark UI before raising this budget."
    )
