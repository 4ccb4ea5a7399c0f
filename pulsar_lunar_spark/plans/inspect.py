"""Plan inspection: assert that a DataFrame's physical plan is the plan
you'd want at 100 TB (SURVEY §4 consequence table).

These helpers read the executed/optimized plan text and check:
- parquet filter pushdown reached the scan (PushedFilters);
- column pruning happened (ReadSchema only carries what's used);
- small dims broadcast instead of shuffling (BroadcastHashJoin);
- no CartesianProduct / BroadcastNestedLoopJoin on big sides;
- rank<=k windows became WindowGroupLimit (shuffle carries k rows/group);
- Python only where declared (no BatchEvalPython rows in JVM-only plans).

Used by tests/test_plans.py so plan regressions fail CI, not production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (what .explain(mode) prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def executed_plan_text(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has(df: DataFrame, needle: str) -> bool:
    return needle in plan_text(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists found in the formatted plan."""
    out = []
    for line in plan_text(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line.split(":", 1)[1].strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    out = []
    for line in plan_text(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            out.append(line.split(":", 1)[1].strip())
    return out


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_text(df)


def has_window_group_limit(df: DataFrame) -> bool:
    return "WindowGroupLimit" in plan_text(df)


def uses_python_eval(df: DataFrame) -> bool:
    """True if ANY Python evaluation appears in the physical plan — scalar
    UDFs (BatchEvalPython/ArrowEvalPython) and the map/grouped-map Arrow
    surfaces (MapInPandas, FlatMapGroupsInPandas, MapInArrow, ...). The
    JVM-only audit must see every Python boundary, not just scalar UDFs."""
    t = plan_text(df)
    return any(
        marker in t
        for marker in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas",
            "MapInArrow",
            "PythonMapInArrow",
            "AggregateInPandas",
        )
    )


def assert_scale_plan(
    df: DataFrame,
    require_pushdown: bool = False,
    require_broadcast: bool = False,
    forbid_cartesian: bool = True,
    forbid_python: bool = False,
    require_window_group_limit: bool = False,
) -> None:
    """One-call scale audit; raises AssertionError naming the violation."""
    text = plan_text(df)
    if forbid_cartesian and "CartesianProduct" in text:
        raise AssertionError("plan contains CartesianProduct:\n" + text)
    if require_broadcast and "BroadcastHashJoin" not in text:
        raise AssertionError("expected BroadcastHashJoin:\n" + text)
    if require_pushdown and not any(p != "[]" for p in pushed_filters(df)):
        raise AssertionError("no parquet PushedFilters:\n" + text)
    if forbid_python and ("BatchEvalPython" in text or "ArrowEvalPython" in text):
        raise AssertionError("unexpected Python eval in plan:\n" + text)
    if require_window_group_limit and "WindowGroupLimit" not in text:
        raise AssertionError("expected WindowGroupLimit:\n" + text)
