"""Order-insensitive result hashes, the same canonicalisation as the
repository's driver simulator (``tools/driver_sim.py``), kept here so
the benchmark stands alone.

Each value is canonicalised per column (never per row, which would
upcast mixed dtypes), rows are sorted, and the sorted lines are hashed.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib

import numpy as np
import pandas as pd


def canon(v) -> str:
    if isinstance(v, (list, np.ndarray, dict)):
        raise TypeError(f"list/array-typed value cannot be hashed: {type(v)}")
    if v is None or pd.isna(v):
        return "NULL"
    if isinstance(v, (np.floating, np.integer, np.bool_)):
        v = v.item()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        v = v.replace(tzinfo=None)
        # midnight timestamps read as dates on both sides
        if v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def frame_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    canon_cols = [[canon(v) for v in pdf[c]] for c in cols]
    lines = sorted("\x1f".join(vals) for vals in zip(*canon_cols))
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def rows_hash(rows, columns: list[str]) -> str:
    """Hash of collected Spark ``Row`` objects."""
    return frame_hash(pd.DataFrame([tuple(r) for r in rows], columns=columns))


def oracle_hashes(sf_dir: str, tables: list[str], sql: dict[str, str]) -> dict[str, str]:
    """``{query: hash}`` of each DuckDB oracle over the same parquet."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
        return {name: frame_hash(con.sql(q).df()) for name, q in sql.items()}
    finally:
        con.close()
