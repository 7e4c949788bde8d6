"""Order-insensitive result digests, and the DuckDB side of the
analytics correctness check.

A result is compared as a multiset of rows over its sorted column
names. Cells are canonicalized the way the repository's oracle gate
compares them: floats exactly (NaN equal to NaN), every other value by
its ``str()``, nulls as a distinct token.
"""

from __future__ import annotations

import hashlib
import math

NULL = "\x00null"


def cell(x) -> str:
    if x is None:
        return NULL
    if isinstance(x, float):
        return "nan" if math.isnan(x) else "f" + repr(x)
    try:  # pandas.NA / NaT
        import pandas as pd

        if x is pd.NA or x is pd.NaT:
            return NULL
    except ImportError:
        pass
    return str(x)


def canonical_rows(columns, rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def digest(columns, rows) -> tuple[int, str]:
    """(row count, sha256 over the sorted canonical rows and the
    sorted column names)."""
    h = hashlib.sha256()
    h.update("\t".join(sorted(columns)).encode())
    canon = canonical_rows(columns, rows)
    for r in canon:
        h.update(b"\n")
        h.update("\t".join(r).encode())
    return len(canon), h.hexdigest()


def frame_digest(pdf) -> tuple[int, str]:
    """Digest of a pandas frame (Spark ``toPandas()`` or DuckDB
    ``fetchdf()``)."""
    cols = [str(c) for c in pdf.columns]
    rows = [list(r) for r in pdf.astype(object).itertuples(index=False, name=None)]
    return digest(cols, rows)


def duckdb_digests(data_dir: str, tables, sql_by_name: dict) -> dict:
    """{name: (rows, digest)} for each oracle query over the parquet
    tables in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {n: frame_digest(con.execute(sql).fetchdf()) for n, sql in sql_by_name.items()}
    finally:
        con.close()
