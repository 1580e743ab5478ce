"""Correctness gates, run outside the op timers."""

from __future__ import annotations

import math
import os

import gen


def canonical(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive form of a result: columns sorted by name, values
    as tagged strings, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def val(v):
        if isinstance(v, float):
            return ("f", "nan" if math.isnan(v) else repr(v))
        if isinstance(v, (list, tuple)):
            return ("l", tuple(val(x) for x in v))
        return (type(v).__name__, str(v))

    return sorted(tuple(val(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB runs each face's ``oracle_sql()`` over the same parquet."""

    def __init__(self, data_dir: str):
        import duckdb

        from export_oltp_to_olap_spark import registry

        self.sql = registry.oracle_sql()
        self.con = duckdb.connect()
        for name in gen.TPCH_TABLES:
            path = os.path.join(data_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def answer(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._cache:
            res = self.con.execute(self.sql[name])
            cols = [d[0] for d in res.description]
            self._cache[name] = (sorted(cols), canonical(cols, res.fetchall()))
        return self._cache[name]

    def compare(self, name: str, columns: list[str], rows) -> str | None:
        """None when the Spark result equals the oracle's, else why not."""
        want_cols, want = self.answer(name)
        if sorted(columns) != want_cols:
            return f"columns {sorted(columns)} != oracle {want_cols}"
        got = canonical(columns, [tuple(r) for r in rows])
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        if got != want:
            return "values differ from the oracle"
        return None

    def close(self) -> None:
        self.con.close()


def grade(oracle: Oracle, results) -> list[str]:
    """Mark each (record, columns, rows) whose rows differ from the
    oracle's as failed; returns why, one line per failure."""
    notes = []
    for rec, cols, rows in results:
        problem = oracle.compare(rec.name, cols, rows)
        if problem:
            rec.ok = False
            notes.append(f"{rec.name}: {problem}")
    return notes


def frames_equal(got, want) -> str | None:
    """Exact multiset equality of two DataFrames with the same columns."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return f"columns {sorted(got.columns)} != {cols}"
    a = got.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    b = want.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    if not a.equals(b):
        return "values differ"
    return None


def star_matches(spark, target: str, fresh, star_mod) -> str | None:
    """The stored star must equal a fresh build, table by table."""
    for name in star_mod.STAR_WRITE_ORDER:
        stored = spark.read.parquet(star_mod.star_table_path(target, name))
        problem = frames_equal(stored, getattr(fresh, name))
        if problem:
            return f"{name}: {problem}"
    return None
