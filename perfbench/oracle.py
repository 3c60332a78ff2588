"""Correctness checks: Spark results against the registry's DuckDB
``oracle_sql()``.

The canonical form is the one ``tools/oracle_check.py`` uses: columns
sorted by name, each cell rendered exactly (floats by ``repr``,
timestamps by ``isoformat``), rows sorted. It is re-implemented here so
the benchmark depends only on the package's public functions.
"""

from __future__ import annotations

import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return str(v)


def canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def duckdb_con(tables_dir: str | None, tmp_dir: str):
    """A DuckDB connection with spill inside tmp_dir and, given a
    tables_dir, one view per table."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    os.makedirs(tmp_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET max_temp_directory_size='4GiB'")
    for t in TABLES if tables_dir else []:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


def mismatch(s_rows, s_cols, o_rows, o_cols) -> str | None:
    """None when the two results agree, else a one-line reason."""
    if sorted(s_cols) != sorted(o_cols):
        return f"columns spark={sorted(s_cols)} duckdb={sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return f"rowcount spark={len(s_rows)} duckdb={len(o_rows)}"
    cs, co = canon(s_rows, s_cols), canon(o_rows, o_cols)
    n_diff = sum(a != b for a, b in zip(cs, co))
    return f"{n_diff} rows differ, first {next(a for a, b in zip(cs, co) if a != b)}" if n_diff else None
