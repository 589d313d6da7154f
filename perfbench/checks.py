"""Output checks: an order-independent digest and the DuckDB oracle match.

Values are normalized the way ``tools/check_oracles.py`` normalizes them:
floats rounded to 6 decimals (NaN becomes NULL), columns sorted by name,
rows sorted, so neither row order nor partition count changes a digest.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import numpy as np
import pandas as pd


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return None
        return round(v, 6) + 0.0  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (np.integer, np.bool_)):
        return v.item()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return v.isoformat()
    if v is pd.NaT or v is pd.NA:
        return None
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def normalize(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return cols, sorted(rows, key=_sort_key)


def digest(pdf: pd.DataFrame) -> str:
    cols, rows = normalize(pdf)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows, else why they differ."""
    scols, srows = normalize(spark_pdf)
    ocols, orows = normalize(oracle_pdf)
    if scols != ocols:
        return f"columns differ: {scols} vs oracle {ocols}"
    if len(srows) != len(orows):
        return f"row count {len(srows)} vs oracle {len(orows)}"
    for a, b in zip(srows, orows):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return f"row {a} vs oracle {b}"
            elif x != y:
                return f"row {a} vs oracle {b}"
    return None


class Oracle:
    """DuckDB over the generated tables of one input directory."""

    def __init__(self, data_dir: str):
        import duckdb

        from anovos_spark import oracles

        self._sql = oracles.registry()
        self._con = duckdb.connect()
        for entry in sorted(os.listdir(data_dir)):
            if not entry.endswith(".parquet"):
                continue
            path = os.path.join(data_dir, entry)
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            self._con.execute(
                f"CREATE VIEW {entry[:-len('.parquet')]} AS SELECT * FROM '{src}'"
            )

    def check(self, name: str, spark_pdf: pd.DataFrame) -> str | None:
        return compare(spark_pdf, self._con.execute(self._sql[name]).fetchdf())

    def close(self) -> None:
        self._con.close()
