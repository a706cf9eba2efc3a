"""Physical-plan introspection helpers.

The optimizations SURVEY §4 relies on Catalyst for (filter/column
pushdown into parquet, broadcast joins, two-phase aggregation,
whole-stage codegen) are asserted, not assumed: tests grab the
formatted plan and check the operators that must (not) appear.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    out = []
    for line in formatted_plan(df).splitlines():
        if "PushedFilters:" in line:
            out.append(line.split("PushedFilters:", 1)[1].strip())
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column-pruning check)."""
    cols: list[str] = []
    for line in formatted_plan(df).splitlines():
        if "ReadSchema:" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            for field in inner.split(","):
                if ":" in field:
                    cols.append(field.split(":", 1)[0])
    return cols


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan (Exchange nodes, excluding broadcast)."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if " Exchange" in line and "BroadcastExchange" not in line
    )


def python_node_inputs(df: DataFrame) -> list[str]:
    """Input column list of each ArrowEvalPython / BatchEvalPython /
    MapInPandas / MapInArrow / FlatMapGroupsInPandas node — where rows
    cross into Python, and which columns they carry. Reads the
    detail-section node headers '(N) Op' so each physical node counts
    once (the tree view repeats the name)."""
    return re.findall(
        r"^\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow"
        r"|FlatMapGroupsInPandas)\n(?:.*\n)*?Input \[\d+\]: \[(.*)\]",
        formatted_plan(df),
        re.M,
    )


def python_eval_nodes(df: DataFrame) -> int:
    """How often rows cross into Python: the Python node count."""
    return len(python_node_inputs(df))
