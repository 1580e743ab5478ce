"""Central registry of (query, oracle) pairs — the engine's public surface.

Every operator claimed in SURVEY.md §2 registers here; ``__spark_entry__``
re-exports it for the driver harness.  A registration binds:

* ``fn(spark, sf_dir) -> DataFrame`` — the Spark plan
* ``sql`` — the equivalent ANSI SQL DuckDB runs on the same parquet
  (``None`` for genuinely non-SQL-expressible operators: the driver then
  records a weaker rows-only check)

Column names and types must match between the two (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Registered:
    fn: QueryFn
    sql: str | None


REGISTRY: dict[str, Registered] = {}


def register(name: str, sql: str | None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Registered(fn=fn, sql=sql)
        return fn

    return deco


def _ordered_names() -> list[str]:
    """Registration names with the driver-report window pinned first.

    The driver records CORRECTNESS rows for the first 50 names only;
    ``queries_catalog.WINDOW_FIRST`` chooses that window explicitly
    (rotated each round — see the catalog module docstring).  Everything
    else follows in definition order.
    """
    from export_oltp_to_olap_spark.queries_catalog import WINDOW_FIRST

    windowed = [n for n in WINDOW_FIRST if n in REGISTRY]
    head = set(windowed)
    return windowed + [n for n in REGISTRY if n not in head]


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: REGISTRY[name].sql for name in _ordered_names() if REGISTRY[name].sql is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (import-for-effect)."""
    global _LOADED
    if _LOADED:
        return
    import export_oltp_to_olap_spark.queries_catalog  # noqa: F401

    _LOADED = True
