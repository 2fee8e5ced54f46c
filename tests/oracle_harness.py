"""Spark-vs-DuckDB differential harness: the compare, the DuckDB view
builder and the fixture transforms (xN replica, 4-file split, conf axes)
shared by the test suite and ``tools/differential.py``.

The compare mirrors the contract in ``__spark_entry__.py``: run the Spark
query and the oracle SQL on the same parquet tables, then compare row count,
column-name set, and order-insensitive values (columns sorted by name, rows
sorted by canonical repr, exact equality — the driver hashes, so
near-equality is a FAIL here too).
"""

from __future__ import annotations

import functools
import json
import math
import os
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from talkinghead_datapipeline_spark.catalog import TPCH_TABLES, load_table, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One view per catalog table present under ``sf_dir``, whether stored
    as a single parquet file or as a directory of part files (how Spark
    writes a table). Absent tables get no view: DuckDB binds a view to its
    files on creation, so a crafted fixture holding only some tables would
    otherwise fail before the oracle runs."""
    con = duckdb.connect()
    for t in TPCH_TABLES:
        p = table_path(sf_dir, t)
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon_value(v: Any) -> Any:
    """Canonicalize one cell for cross-engine comparison.

    Numeric values carry a TYPE-CLASS TAG ("b"/"i"/"f"/"d") so an integer
    column on one engine never equals a float column on the other — the
    driver's value hash is dtype-sensitive (round 1: Spark BIGINT 40024
    hash-mismatched DuckDB DOUBLE 40024.0 while the old ``==`` compare
    passed). A local pass must predict a driver pass.
    """
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", float(v))
    if isinstance(v, Decimal):
        return ("d", str(v))
    if isinstance(v, (pd.Timestamp,)):
        return v.to_pydatetime().isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_value(x) for x in v)
    return v

def _canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        canon = tuple(_canon_value(v) if not (isinstance(v, float) and pd.isna(v)) else None for v in row)
        # pandas represents SQL NULL in float cols as NaN; map to None
        out.append(canon)
    out.sort(key=repr)
    return out


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    mismatches: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        extra = "" if self.ok else " | " + "; ".join(self.mismatches[:5])
        return f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}{extra}"


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> CompareResult:
    res = CompareResult(name, True, len(spark_pdf), len(oracle_pdf))
    if set(spark_pdf.columns) != set(oracle_pdf.columns):
        res.ok = False
        res.mismatches.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return res
    if len(spark_pdf) != len(oracle_pdf):
        res.ok = False
        res.mismatches.append("row count differs")
        return res
    s_rows = _canon_rows(spark_pdf)
    o_rows = _canon_rows(oracle_pdf)
    n_diff = 0
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a != b:
            n_diff += 1
            if n_diff <= 3:
                res.mismatches.append(f"row {i}: spark={a!r} oracle={b!r}")
    if n_diff:
        res.ok = False
        res.mismatches.append(f"{n_diff}/{len(s_rows)} rows differ")
    return res


def oracle_frame(sf_dir: str, oracle: str) -> pd.DataFrame:
    con = duckdb_connection(sf_dir)
    try:
        return con.execute(oracle).fetchdf()
    finally:
        con.close()


def run_compare(spark, sf_dir: str, name: str, spark_fn, oracle: str) -> CompareResult:
    spark_pdf = spark_fn(spark, sf_dir).toPandas()
    return compare_frames(name, spark_pdf, oracle_frame(sf_dir, oracle))


# Fact table -> key columns shifted by ``i * REPLICA_OFFSET`` in replica i.
# orders and lineitem shift the order key together so they still join; FK
# columns into the x1 dimension tables are not shifted, so every fact:dim
# ratio grows N-fold (documents become exact-duplicate clusters of N, and
# per-user event streams grow N-fold since user ids stay put).
REPLICA_SHIFT = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
REPLICA_OFFSET = 1_000_000_000


def build_replica(spark, src: str, out: str, replicas: int) -> str:
    """Write the key-shifted x``replicas`` replica of ``src`` under ``out``.

    Built tables are reused only while ``MANIFEST.json`` names the same
    source and scheme, and only if the table's ``_SUCCESS`` marker exists:
    Spark writes the marker last, so a build killed mid-table is redone.
    The manifest is written after the last table for the same reason."""
    from pyspark.sql import functions as F

    manifest_path = os.path.join(out, "MANIFEST.json")
    manifest = {
        "sf_dir": os.path.abspath(src),
        "scheme": {"shift": REPLICA_SHIFT, "offset": REPLICA_OFFSET, "replicas": replicas},
    }
    try:
        with open(manifest_path) as fh:
            fresh = json.load(fh) == manifest
    except (OSError, json.JSONDecodeError):
        fresh = False
    os.makedirs(out, exist_ok=True)
    for name in TPCH_TABLES:
        dst = table_path(out, name)
        if fresh and os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        df = load_table(spark, src, name)
        if name == "events":
            # keep DuckDB's naive-timestamp semantics: write NTZ micros so
            # the oracle sees the same wall-clock values as the native
            # TIMESTAMP(NANOS) fixture (instants are unchanged)
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        if name in REPLICA_SHIFT:
            parts = [
                df.withColumns(
                    {c: F.col(c) + F.lit(i * REPLICA_OFFSET) for c in REPLICA_SHIFT[name]}
                )
                for i in range(replicas)
            ]
            df = functools.reduce(lambda a, b: a.unionAll(b), parts)
            if name == "events":
                # the streaming oracles model the landing-file SEQUENCE
                # (watermark late-drops are file-order-dependent by
                # design); keep the native single-sorted-file model
                df = df.orderBy("ts", "event_id").coalesce(1)
            else:
                df = df.repartition(8)
        df.write.mode("overwrite").parquet(dst)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=1)
    return out


def write_split_fixture(spark, sf_dir: str, out, tables=TPCH_TABLES) -> str:
    """Re-write ``tables`` of ``sf_dir`` under ``out`` as 4 round-robin
    parquet files each: different per-file row sets AND a different
    within-file row order than the source."""
    for name in tables:
        load_table(spark, sf_dir, name).repartition(4).write.mode(
            "overwrite"
        ).parquet(table_path(out, name))
    return str(out)


# Invariance axis -> (conf key, value to run with given the session's value)
CONF_AXES = {
    "partitions": ("spark.sql.shuffle.partitions", lambda cur: "7"),
    "aqe": ("spark.sql.adaptive.enabled", lambda cur: "false" if cur == "true" else "true"),
}


@contextmanager
def conf_axes(spark, *axes: str):
    """Run the block with each named ``CONF_AXES`` axis moved off the
    session's setting, and restore every setting even on failure (a leaked
    setting would skew every later query in the shared session)."""
    saved = {}
    try:
        for axis in axes:
            key, alt = CONF_AXES[axis]
            saved[key] = spark.conf.get(key)
            spark.conf.set(key, alt(saved[key]))
        yield
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)


def assert_split_invariance(spark, sf_dir, tmp_path, query_fn, *tables):
    """Axis 1 of the three-axis invariance contract: a 4-file re-layout of
    the query's input ``tables`` must reproduce the frame exactly."""
    write_split_fixture(spark, sf_dir, tmp_path, tables)
    base = query_fn(spark, sf_dir).toPandas()
    res = compare_frames(query_fn.__name__, query_fn(spark, str(tmp_path)).toPandas(), base)
    assert res.ok, f"layout-dependent result: {res}"


def assert_conf_axis_invariance(spark, sf_dir, query_fn):
    """Axes 2+3: shuffle-partition count and AQE toggle must reproduce the
    frame exactly — partial-merge order cannot move an exact pipeline."""
    base = query_fn(spark, sf_dir).toPandas()
    with conf_axes(spark, *CONF_AXES):
        alt = query_fn(spark, sf_dir).toPandas()
    res = compare_frames(query_fn.__name__, alt, base)
    assert res.ok, f"conf-axis-dependent result: {res}"
