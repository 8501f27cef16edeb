"""Physical-plan inspection helpers — the 100 TB design-point guardrails.

A query that is correct at sf0.01 but plans a cartesian product, a
non-broadcast dimension join or a per-reference re-scan of its fact table
will fall over at cluster scale. These helpers turn the physical plan into
assertions the test suite runs, so scale regressions fail CI instead of
production:

* dimension joins must be BroadcastHashJoin (no shuffle of the fact table);
* parquet scans must carry PushedFilters (predicate reaches the reader);
* no BroadcastNestedLoopJoin / CartesianProduct unless explicitly intended;
* a multiply-referenced intermediate is scanned once, not once per
  reference (:func:`scan_counts`).

Operator counts come from one py4j walk of the physical plan TREE
(:func:`_walk`), never from the explain text: nested AdaptiveSparkPlan
sections re-print inside InMemoryRelation at reset indentation, so a
string/indentation parser drops or double-counts nodes. The walk:

- recurses from ``AdaptiveSparkPlanExec`` into its current plan (the
  initial plan before execution, the final plan after), and from
  query-stage wrappers into their stage plan;
- descends ``InMemoryTableScanExec`` into the cached plan as NOT live:
  that lineage populates the cache at most once, then every reference
  reads cached rows (the invariant the scan audit checks);
- marks ``ReusedExchangeExec`` subtrees NOT live: they re-read a shuffle
  already counted once on its primary branch;
- follows ``children()`` only, so expression subqueries are not visited.

A subtree pinned by ``localCheckpoint``/``checkpoint`` appears as a
``Scan ExistingRDD`` leaf (not a file scan — its upstream ran exactly once
in its own job; see lakehouse_architecture_spark/materialize.py).
``formatted_plan`` serves the text checks (pushed filters, join names)
and plan dumps.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

#: Physical scan leaves that read source files.
_FILE_SCAN_CLASSES = {"FileSourceScanExec", "BatchScanExec"}


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _walk(node, live: bool = True):
    """Yield ``(node, class_name, live)`` for every physical node reached
    from ``node``; ``live`` is False inside cached or reused subtrees."""
    cls = node.getClass().getSimpleName()
    yield node, cls, live
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan(), live)
    elif cls.endswith("QueryStageExec"):
        yield from _walk(node.plan(), live)
    elif cls == "InMemoryTableScanExec":
        yield from _walk(node.relation().cachedPlan(), False)
    else:
        live = live and not cls.startswith("ReusedExchange")
        ch = node.children()
        for i in range(ch.size()):
            yield from _walk(ch.apply(i), live)


def scan_counts(df: DataFrame) -> dict:
    """Counts over the executed physical plan of an already-executed
    DataFrame: ``live`` = file scans that execute when this plan runs,
    ``total`` = live + scans inside cached/reused subtrees, ``reused`` =
    reuse nodes encountered."""
    counts = {"live": 0, "total": 0, "reused": 0}
    for _, cls, live in _walk(df._jdf.queryExecution().executedPlan()):
        if cls in _FILE_SCAN_CLASSES:
            counts["total"] += 1
            counts["live"] += live
        elif cls.startswith("ReusedExchange"):
            counts["reused"] += 1
    return counts


def live_scan_count(df: DataFrame) -> int:
    """File-source scan leaves that EXECUTE in this DataFrame's final
    plan (cached / reused subtrees excluded)."""
    return scan_counts(df)["live"]


def plan_summary(df: DataFrame) -> Counter:
    """Operator histogram of the physical plan: every node the walk
    visits, cached and reused subtrees included, keyed by ``nodeName()``
    without the codegen-stage suffix (``WholeStageCodegen (3)``) or
    trailing blanks (``Scan parquet ``)."""
    return Counter(
        re.sub(r"( \(\d+\))?\s*$", "", node.nodeName())
        for node, _, _ in _walk(df._jdf.queryExecution().executedPlan())
    )


def assert_broadcast_join(df: DataFrame) -> None:
    ops = plan_summary(df)
    if not ops["BroadcastHashJoin"]:
        raise AssertionError(f"no BroadcastHashJoin in the plan: {dict(ops)}")


def assert_pushed_filters(df: DataFrame) -> None:
    plan = formatted_plan(df)
    if "PushedFilters: [" not in plan or "PushedFilters: []" in plan.replace(
        "PushedFilters: [],", "PushedFilters: []"
    ):
        # at least one scan must carry a non-empty pushed filter list
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        if not any(p.strip() for p in pushed):
            raise AssertionError(f"no pushed filters in any scan:\n{plan[:4000]}")


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if bad in plan:
            raise AssertionError(f"{bad} in plan — will not scale:\n{plan[:4000]}")
