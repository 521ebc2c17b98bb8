"""Physical-plan audit helpers.

"Would this plan survive a 100× scale-up?" is checked mechanically here:
tests (tests/test_plans.py) assert that the operators' physical plans keep
the properties that make them scale — column pruning reaching the parquet
scan, filter pushdown, and a bounded number of shuffles — so a regression
that, say, drags the full row through the sketch build fails CI instead of
surfacing as a 6× slowdown at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def codegen_count(df: DataFrame, pattern: str) -> int:
    """Occurrences of the regex ``pattern`` in the generated Java source of
    ``df``'s whole-stage-codegen subtrees (e.g. ``XXH64\\.hash`` = hash
    calls per row). Call it after an action on ``df``: before execution
    the adaptive plan has no final stages and shows no codegen subtree."""
    return len(re.findall(pattern, plan_string(df, "codegen")))


def final_plan(df: DataFrame) -> str:
    """Tree string of ``df``'s executed plan; after an action, the final
    adaptive plan alone (``plan_string`` prints the initial plan too). An
    operator inside a whole-stage-codegen subtree reads ``*(n) Name``."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.treeString()


#: node names of the operators that run Python workers
PYTHON_OPERATORS = (
    "MapInArrow", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
)


def _children(node) -> list:
    """Plan children, descending through AQE wrappers and query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _nodes(df: DataFrame):
    """``(node, its children)`` of ``df``'s executed plan, top-down."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kids = _children(node)
        yield node, kids
        stack.extend(reversed(kids))


def python_operators(df: DataFrame) -> list[tuple[str, str]]:
    """The Python operators of ``df``'s executed plan, top-down, each as
    ``(node name, its input plan as a tree string)``: how many Python
    stages a query runs, and over which rows (e.g. a ``collect_set``
    aggregate in the input means only register sets reach Python)."""
    return [
        (node.nodeName(), "\n".join(k.treeString() for k in kids))
        for node, kids in _nodes(df)
        if node.nodeName() in PYTHON_OPERATORS
    ]


def exchange_inputs(df: DataFrame) -> list[str]:
    """Node name of each shuffle ``Exchange``'s input, top-down (e.g. all
    ``HashAggregate``: only aggregated rows shuffle, data rows never)."""
    return [
        kids[0].nodeName() for node, kids in _nodes(df)
        if node.nodeName() == "Exchange"
    ]


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan in the plan (column-pruning witness)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan_string(df))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters of every scan (predicate-pushdown witness)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def n_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan (each Exchange is a full network barrier
    at cluster scale — the number to budget, not discover, per operator)."""
    return len(re.findall(r"\bExchange\b", plan_string(df, "simple")))


def scan_columns(df: DataFrame) -> set[str]:
    cols: set[str] = set()
    for schema in scan_read_schemas(df):
        for field in schema.split(","):
            if ":" in field:
                cols.add(field.split(":", 1)[0])
    return cols


def assert_pruned_scan(df: DataFrame, allowed: set[str]) -> None:
    got = scan_columns(df)
    extra = got - set(allowed)
    assert not extra, (
        f"scan reads columns {sorted(extra)} beyond the required "
        f"{sorted(allowed)} — column pruning regressed"
    )


def assert_max_exchanges(df: DataFrame, n: int) -> None:
    got = n_exchanges(df)
    assert got <= n, (
        f"plan has {got} shuffles, budget is {n}:\n{plan_string(df, 'simple')}"
    )
