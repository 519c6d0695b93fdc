"""Query registry: every implemented operator ships as a named pair
(Spark callable, DuckDB oracle SQL) — the contract consumed by
``__spark_entry__.py`` and the driver's correctness gate.

Column-name discipline: the Spark DataFrame and the oracle SQL must produce
identical column names (the driver sorts columns by name before hashing).
Every computed column is therefore aliased on both sides.

Order: ``queries()`` and ``oracle_sql()`` list the queries in registration
order — the import order of the ``queries_*`` modules in ``plans/__init__.py``,
then each module's in-file order. That order is fixed by the code, and it
keeps producers ahead of their consumers (``ml_softpatch_scores`` builds the
score view its ``ml_softpatch_eval`` sibling reads).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    # DuckDB SQL; None → driver runs a rows-only check. A zero-arg callable
    # defers oracle construction to oracle_sql() time — used by the numpy-
    # mirror oracles (ML queries whose expected output is computed by an
    # independent single-node replica and emitted as a VALUES table), which
    # are too expensive to build at import.
    oracle: str | Callable[[], str] | None
    tags: tuple[str, ...] = ()  # SURVEY.md §2 operator ids this query covers
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

def register(
    name: str,
    oracle: str | Callable[[], str] | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable[[SparkSession, str], DataFrame]]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.spark for s in REGISTRY.values()}


def oracle_sql() -> dict[str, str]:
    return {
        s.name: (s.oracle() if callable(s.oracle) else s.oracle)
        for s in REGISTRY.values()
        if s.oracle is not None
    }
