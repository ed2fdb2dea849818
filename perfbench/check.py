"""Output checks against DuckDB over the same generated inputs.

Both sides are reduced to (sorted column names, row count, digest).
The digest is an order-independent sum of per-row hashes, where each
row is its values normalized to strings in column-name order: floats
as DOUBLE rounded to 9 places (the repo's ``tools/verify_local.py``
rule), integers and scale-0 decimals as integers, booleans as
true/false, timestamps as naive UTC, lists element-wise. Duplicate
rows count once each, so a dropped or doubled row changes the digest.
"""

from __future__ import annotations

import os
import re

import duckdb

SEP = "chr(31)"


def _norm(expr: str, typ: str) -> str:
    """SQL that renders ``expr`` of DuckDB type ``typ`` canonically."""
    typ = typ.upper()
    if typ.endswith("[]"):
        return f"list_transform({expr}, v -> {_norm('v', typ[:-2])})::VARCHAR"
    if typ in ("FLOAT", "DOUBLE", "REAL") or (typ.startswith("DECIMAL") and not typ.endswith(",0)")):
        return f"CASE WHEN isnan({expr}::DOUBLE) THEN 'NaN' ELSE round({expr}::DOUBLE, 9)::VARCHAR END"
    if re.fullmatch(r"(U?(TINY|SMALL|BIG|HUGE)?INT(EGER)?|DECIMAL\(\d+,0\))", typ):
        return f"{expr}::HUGEINT::VARCHAR"
    if typ == "BOOLEAN":
        return f"CASE WHEN {expr} THEN 'true' ELSE 'false' END"
    if typ.startswith("TIMESTAMP"):
        return f"{expr}::TIMESTAMP::VARCHAR"
    return f"{expr}::VARCHAR"


def digest_sql(relation: str, columns: list[tuple[str, str]]) -> str:
    """Count-and-digest query over ``relation`` with ``columns`` as
    (name, DuckDB type) pairs."""
    parts = [
        f"coalesce({_norm(_quote(name), typ)}, 'NULL')"
        for name, typ in sorted(columns)
    ]
    row = f"concat_ws({SEP}, {', '.join(parts)})" if parts else "''"
    return f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM {relation}"


def _quote(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def connect(data_dir: str, tables: tuple[str, ...], temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 4")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


def summarize(con: duckdb.DuckDBPyConnection, relation: str) -> tuple[list[str], int, int]:
    """(sorted column names, rows, digest) of a relation or subquery."""
    cols = [(r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()]
    n, h = con.execute(digest_sql(relation, cols)).fetchone()
    return sorted(c for c, _ in cols), int(n), int(h)


def compare(con: duckdb.DuckDBPyConnection, actual: str, expected_sql: str) -> str | None:
    """None when ``actual`` (a relation) matches ``expected_sql``,
    else a one-line description of the first difference."""
    got = summarize(con, actual)
    want = summarize(con, f"({expected_sql})")
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"rows {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return f"digest differs over {got[1]} rows"
    return None
