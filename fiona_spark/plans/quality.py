"""Physical-plan quality checks (SURVEY.md section 4 invariants).

The reference's only "optimizer" is capability-gated pushdown
(`fiona/ogrext.pyx:1818-1840`, `:895-922`); here Catalyst does the work,
and this module makes the resulting plan PROPERTIES testable, so a
regression that silently de-optimizes a pipeline (lost filter pushdown,
a broadcast that became a shuffle, Python creeping into a JVM path)
fails CI instead of shipping.

Checks run on ``df._jdf`` formatted explain output — stable public
surface (same text `df.explain("formatted")` prints).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filters(df: DataFrame, fragment: str | None = None) -> bool:
    """True when the scan carries PushedFilters (predicate reached parquet)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line and "[]" not in line.split("PushedFilters:")[1][:4]:
            if fragment is None or fragment in line:
                return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column-pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            body = line.split("ReadSchema:")[1].strip()
            inner = body[body.find("<") + 1: body.rfind(">")]
            for field in inner.split(","):
                name = field.split(":")[0].strip()
                if name:
                    cols.append(name)
    return cols


import re as _re


def _op_count(df: DataFrame, op: str) -> int:
    """Count physical operators by their detail headers ("(4) Exchange").

    The formatted explain prints every node twice — once in the tree,
    once in the numbered detail section — so substring counting would
    double-count.
    """
    return len(_re.findall(rf"^\(\d+\) {op}\b", formatted_plan(df),
                           _re.MULTILINE))


def broadcast_join_count(df: DataFrame) -> int:
    return _op_count(df, "BroadcastHashJoin")


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan."""
    return _op_count(df, "Exchange")


def codegen_stage_count(df: DataFrame) -> int:
    """Whole-stage-codegen spans (the "*(n)" markers of the simple plan)."""
    return len(set(_re.findall(r"\*\((\d+)\)", simple_plan(df))))


def python_eval_count(df: DataFrame) -> int:
    """Python-execution operators in the plan (ArrowEval/BatchEval/
    MapInPandas/MapInArrow/FlatMapGroups/FlatMapCoGroups, pandas or
    Arrow) — the ones that must stay off pure relational paths."""
    return sum(_op_count(df, tok) for tok in
               ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow"))


def assert_quality(df: DataFrame, *, max_shuffles: int | None = None,
                   min_broadcast: int = 0, max_python: int | None = None,
                   pushed_filter: bool = False,
                   read_only: set[str] | None = None) -> None:
    """Assert a bundle of plan properties; raises AssertionError with the
    formatted plan attached for diagnosis."""
    problems = []
    if pushed_filter and not has_pushed_filters(df):
        problems.append("expected PushedFilters at the scan")
    if max_shuffles is not None:
        n = shuffle_count(df)
        if n > max_shuffles:
            problems.append(f"{n} shuffles > allowed {max_shuffles}")
    if min_broadcast:
        n = broadcast_join_count(df)
        if n < min_broadcast:
            problems.append(f"{n} broadcast joins < required {min_broadcast}")
    if max_python is not None:
        n = python_eval_count(df)
        if n > max_python:
            problems.append(f"{n} python operators > allowed {max_python}")
    if read_only is not None:
        got = set(read_schema_columns(df))
        extra = got - read_only
        if extra:
            problems.append(f"scan reads unpruned columns: {sorted(extra)}")
    if problems:
        raise AssertionError("; ".join(problems) + "\n" + formatted_plan(df))
