"""Correctness gate: compare each key's fetched pandas frame to its oracle.

The comparators are those of ``tools/verify_local.py``: a strict
order-insensitive multiset against the DuckDB oracle SQL, the tolerance
rule of ``TOLERANCE_ORACLES`` for the approximate keys, and rows-only for
keys with neither. Frames come from ``toPandas()``, where a null float and
a NaN look alike, so both sides map NaN to null before comparing.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

from tools.verify_local import (
    _CHECKERS,
    TOLERANCE_ORACLES,
    _rows_to_multiset,
    _tolerance_check,
)
from xml_processor_spark.io import TABLES


def connect(sf_dir: str, threads: int, spill_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB over the fixture's tables, like ``connect_duckdb`` in
    ``tools/verify_local.py`` but with the thread count capped and the
    spill directory inside the run directory instead of ``/tmp``."""
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _plain(v):
    """One cell of a pandas frame or DuckDB row as a plain Python value."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.ndarray):
        return tuple(_plain(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def frame_rows(pdf: pd.DataFrame) -> list[tuple]:
    return [tuple(_plain(v) for v in r)
            for r in pdf.itertuples(index=False, name=None)]


def check_key(key: str, pdf: pd.DataFrame, oracle: str | None,
              con: duckdb.DuckDBPyConnection) -> tuple[str, list[str]]:
    """Return ``(mode, problems)``; an empty problem list is a pass."""
    s_cols = list(pdf.columns)
    s_rows = frame_rows(pdf)
    if oracle is None:
        spec = TOLERANCE_ORACLES.get(key)
        if spec is None:
            return "rows_only", []
        if "checker" in spec:
            return "tolerance", _CHECKERS[spec["checker"]](s_cols, s_rows, con)
        cur = con.execute(spec["sql"])
        d_cols = [d[0] for d in cur.description]
        d_rows = [tuple(_plain(v) for v in r) for r in cur.fetchall()]
        return "tolerance", _tolerance_check(s_cols, s_rows, d_cols, d_rows, spec)
    cur = con.execute(oracle)
    d_cols = [d[0] for d in cur.description]
    d_rows = [tuple(_plain(v) for v in r) for r in cur.fetchall()]
    if sorted(s_cols) != sorted(d_cols):
        return "strict", [f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}"]
    if len(s_rows) != len(d_rows):
        return "strict", [f"rowcount spark={len(s_rows)} duck={len(d_rows)}"]
    if _rows_to_multiset(s_rows, s_cols) != _rows_to_multiset(d_rows, d_cols):
        return "strict", ["values differ"]
    return "strict", []
