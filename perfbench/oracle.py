"""Result checks against the DuckDB oracle.

A query's result is summarised as (row count, column set, order-insensitive
hash). The canonical form is the one the repo's oracle test harness
compares: columns sorted by name, each cell tagged with its type class so
an integer never equals a float, rows sorted by their repr. Oracle
summaries are cached on disk per input digest and oracle SQL, so a seed's
oracle runs once however often the benchmark runs that seed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import Decimal

import numpy as np
import pandas as pd


def _canon_value(v, top: bool = True):
    """A NaN cell reads as SQL NULL (pandas stores NULL floats as NaN); a
    NaN inside an array stays a NaN."""
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return None if top else ("f", "NaN")
        return ("f", float(v))
    if isinstance(v, Decimal):
        return ("d", str(v))
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_value(x, top=False) for x in v)
    return v


def summarize(pdf: pd.DataFrame) -> dict:
    """(rows, sorted columns, sha256 of the canonical row list)."""
    cols = sorted(pdf.columns)
    rows = [tuple(_canon_value(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return {
        "rows": len(rows),
        "columns": cols,
        "hash": hashlib.sha256(repr(rows).encode()).hexdigest(),
    }


def _connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for fn in sorted(os.listdir(sf_dir)):
        if not fn.endswith(".parquet"):
            continue
        path = os.path.join(sf_dir, fn)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {fn[: -len('.parquet')]} AS SELECT * FROM read_parquet('{src}')")
    return con


class Oracle:
    """DuckDB oracle summaries over one input directory, cached on disk
    under ``cache_dir`` keyed by the input digest."""

    def __init__(self, sf_dir: str, digest: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.path = os.path.join(cache_dir, f"{digest[:32]}.json")
        os.makedirs(cache_dir, exist_ok=True)
        try:
            with open(self.path) as f:
                self.cache = json.load(f)
        except (OSError, json.JSONDecodeError):
            self.cache = {}
        self._con = None

    def summary(self, sql: str) -> dict:
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self.cache:
            if self._con is None:
                self._con = _connect(self.sf_dir)
            self.cache[key] = summarize(self._con.execute(sql).fetchdf())
        return self.cache[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
        tmp = self.path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.cache, f)
        os.replace(tmp, self.path)


def mismatch(got: dict, want: dict, rows_only: bool = False) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != oracle {want['rows']}"
    if rows_only:
        return None
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if got["hash"] != want["hash"]:
        return "value hash differs from oracle"
    return None
