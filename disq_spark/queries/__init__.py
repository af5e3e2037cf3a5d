"""Gate-facing query registry.

Each submodule contributes two ``registry.Registry`` maps, which refuse
a name given twice (as does their union here):
- ``QUERIES: name -> Callable[[SparkSession, str], DataFrame]``
- ``ORACLE: name -> str`` — DuckDB-runnable ANSI SQL equivalents
  (omitted for non-SQL-expressible operators; the driver then records a
  rows-only check).

Column names are aliased identically on both sides: the driver's compare
sorts columns by name before hashing values. Float aggregates are rounded
on both sides (sum order differs between engines; see ``_round`` notes).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from disq_spark.queries import events, genomics, llm, relational, sampling, sketches
from disq_spark.queries.registry import union

_MODULES = (relational, events, llm, genomics, sketches, sampling)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return union(mod.QUERIES for mod in _MODULES)


def all_oracles() -> dict[str, str]:
    return union(mod.ORACLE for mod in _MODULES)
