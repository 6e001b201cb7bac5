"""DuckDB oracles and the result check.

A result matches its oracle when the column names agree (case-insensitive)
and the two are equal as multisets of rows, floats bit-for-bit: DuckDB
compares them with ``EXCEPT ALL`` in both directions, so row order never
matters.
"""

from __future__ import annotations

import duckdb


def connect(tables: dict[str, str | list[str]]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table over its parquet file(s)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # Spark hands back UTC instants; the oracle reads naive timestamps
    con.execute("SET TimeZone = 'UTC'")
    for name, files in tables.items():
        paths = [files] if isinstance(files, str) else files
        listed = ", ".join(f"'{p}'" for p in paths)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{listed}])")
    return con


def expect(con: duckdb.DuckDBPyConnection, name: str, sql: str) -> str:
    """Materialize an oracle's answer as temp table ``name``; returns it."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")
    return name


def matches(con: duckdb.DuckDBPyConnection, got, expected: str) -> bool:
    """Whether the Arrow table ``got`` equals the temp table ``expected``."""
    want = {c.lower(): c for c in con.table(expected).columns}
    have = {c.lower(): c for c in got.column_names}
    if sorted(want) != sorted(have):
        return False
    con.register("got", got)
    try:
        a = ", ".join(f'"{have[c]}"' for c in sorted(have))
        b = ", ".join(f'"{want[c]}"' for c in sorted(want))
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {a} FROM got EXCEPT ALL "
            f"SELECT {b} FROM {expected})) + (SELECT count(*) FROM (SELECT {b} "
            f"FROM {expected} EXCEPT ALL SELECT {a} FROM got))"
        ).fetchone()[0]
    except duckdb.Error:  # incomparable column types are a mismatch
        return False
    finally:
        con.unregister("got")
    return diff == 0


def verdict(con, op: dict, expected: str | None) -> bool:
    """An op that raised fails. With an oracle, the op passes when its
    result equals the oracle's; without one, when it completed with rows."""
    if op.get("error") is not None:
        return False
    if expected is None:
        return op["rows"] > 0
    return matches(con, op["result"], expected)
