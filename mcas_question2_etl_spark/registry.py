"""Query registry: the single source of truth binding each implemented
operator (SURVEY.md §2) to (a) its Spark plan and (b) its DuckDB oracle
SQL for the driver's differential correctness gate.

Each module contributes QuerySpec entries; ``queries()``/``oracle_sql()``
flatten them for __spark_entry__.py. Specs without oracle SQL get the
driver's weaker rows-only check (reserved for genuinely
non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB, or None -> rows-only check
    survey_ref: str  # SURVEY.md §2 inventory ids this spec covers


def spec_decorator(specs: list[QuerySpec]):
    """A plan module's ``@_spec(name, oracle, survey_ref)`` decorator:
    each decorated plan function is appended to ``specs`` as a
    :class:`QuerySpec`, in declaration order, and returned unchanged."""

    def spec(name: str, oracle: str | None, survey_ref: str):
        def wrap(fn: QueryFn) -> QueryFn:
            specs.append(QuerySpec(name=name, fn=fn, oracle=oracle, survey_ref=survey_ref))
            return fn

        return wrap

    return spec


def _all_specs() -> list[QuerySpec]:
    from .plans import suite

    return suite.SPECS


def queries() -> dict[str, QueryFn]:
    return {s.name: s.fn for s in _all_specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in _all_specs() if s.oracle is not None}
