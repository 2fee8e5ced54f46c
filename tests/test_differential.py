"""The differential CLI (``tools/differential.py``) run in-process on the
session's Spark, and the harness fixture transforms it is built on."""

from __future__ import annotations

import importlib.util
import json
import os
from pathlib import Path

import pytest

from talkinghead_datapipeline_spark.catalog import load_table
from tests.oracle_harness import (
    build_replica,
    duckdb_connection,
    oracle_frame,
    write_split_fixture,
)

_spec = importlib.util.spec_from_file_location(
    "differential", Path(__file__).resolve().parent.parent / "tools" / "differential.py"
)
differential = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(differential)


def orders_count(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").groupBy().count()


# off by one on purpose: the CLI must report this query as a mismatch
WRONG_ORACLE = "SELECT count(*) + 1 AS count FROM orders"


def _count(sf_dir, table):
    return oracle_frame(sf_dir, f"SELECT count(*) AS n FROM {table}").n[0]


@pytest.fixture(scope="module")
def local_dir(spark, sf_dir, tmp_path_factory):
    """A local dir holding the x2 replica the CLI derives for ``--replicas 2``."""
    local = tmp_path_factory.mktemp("local")
    build_replica(spark, sf_dir, str(local / "x2_differential"), 2)
    return local


def test_cli_counts_every_cell(spark, sf_dir, local_dir, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(local_dir))
    argv = ["q1_pricing_summary", "q3_top_revenue_orders", "--sf-dir", sf_dir,
            "--replicas", "2", "--invariance"]
    rc = differential.main(argv, spark=spark)
    lines = capsys.readouterr().out.splitlines()
    summary = json.loads(lines[-1])
    # 2 queries x (fixture, x2 replica, split, partitions, aqe)
    assert summary["checked"] == 10 and len(lines) == 11
    assert summary["mismatches"] == summary["errors"] == summary["rows_only"] == []
    assert rc == 0
    assert all(line.split()[3] == "OK" for line in lines[:-1]), lines


def test_cli_fails_on_a_wrong_oracle(spark, sf_dir, capsys):
    rc = differential.main(
        ["tests.test_differential:orders_count:WRONG_ORACLE", "--sf-dir", sf_dir],
        spark=spark,
    )
    lines = capsys.readouterr().out.splitlines()
    summary = json.loads(lines[-1])
    assert rc == 1
    assert summary["checked"] == 1
    assert [m[:2] for m in summary["mismatches"]] == [
        ["orders_count", os.path.basename(os.path.normpath(sf_dir))]
    ]
    assert "orders_count @" in lines[0] and "MISMATCH" in lines[0]


def test_replica_rebuilds_a_table_without_success_marker(spark, sf_dir, local_dir):
    out = str(local_dir / "x2_differential")
    orders = Path(out) / "orders.parquet"
    lineitem_marker = Path(out) / "lineitem.parquet" / "_SUCCESS"
    kept_mtime = lineitem_marker.stat().st_mtime_ns
    # a build killed mid-write: some part files and no _SUCCESS marker
    (orders / "_SUCCESS").unlink()
    for part in sorted(orders.glob("part-*"))[1:]:
        part.unlink()
    assert _count(out, "orders") < 2 * _count(sf_dir, "orders")

    build_replica(spark, sf_dir, out, 2)
    assert (orders / "_SUCCESS").exists()
    assert _count(out, "orders") == 2 * _count(sf_dir, "orders")
    assert lineitem_marker.stat().st_mtime_ns == kept_mtime  # complete: reused


def test_duckdb_connection_reads_part_directories(spark, sf_dir, tmp_path):
    write_split_fixture(spark, sf_dir, tmp_path, ["orders"])
    assert len(list((tmp_path / "orders.parquet").glob("part-*.parquet"))) == 4
    con = duckdb_connection(tmp_path)
    try:
        # only orders is present, so it is the only view
        views = con.execute("SELECT view_name FROM duckdb_views() WHERE NOT internal")
        assert views.fetchall() == [("orders",)]
    finally:
        con.close()
    sql = "SELECT count(*) AS n, sum(o_orderkey) AS s FROM orders"
    assert oracle_frame(tmp_path, sql).equals(oracle_frame(sf_dir, sql))
