"""Degree assortativity of the trade network (STAGED for r15).

Oracle differential, an independent plain-Python recompute (adjacency
dicts, no SQL), the symmetry identity that makes the estimator rational
(sum/see staging comment: Σdeg_src == Σdeg_dst and Σdx² == Σdy² on the
bidirectional edge list — asserted directly), crafted corpora (a star
graph is maximally DISassortative; a degree-regular graph has den = 0 ->
NULL r), and the overflow bound from measured fixture maxima.
"""

from __future__ import annotations

import pytest


from talkinghead_datapipeline_spark.queries.graph import (
    _SUPP_OFFSET,
    ASSORTATIVITY_ORACLE,
    degree_assortativity_trade,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "degree_assortativity_trade",
        degree_assortativity_trade, ASSORTATIVITY_ORACLE,
    )
    assert res.ok, res.mismatches


def _python_assortativity(pairs):
    edges = []
    for c, s in pairs:
        sn = s + _SUPP_OFFSET
        edges.append((c, sn))
        edges.append((sn, c))
    deg = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    m = len(edges)
    sx = sum(deg[a] for a, _ in edges)
    sy = sum(deg[b] for _, b in edges)
    sxx = sum(deg[a] ** 2 for a, _ in edges)
    syy = sum(deg[b] ** 2 for _, b in edges)
    sxy = sum(deg[a] * deg[b] for a, b in edges)
    # the symmetry identity the rational form relies on
    assert sx == sy and sxx == syy
    num = m * sxy - sx * sx
    den = m * sxx - sx * sx
    return m, sx, sxx, sxy, num, den


def test_matches_independent_python(spark, sf_dir):
    import math

    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).toPandas()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).toPandas()
    pairs = {
        (int(c), int(s))
        for c, s in li.merge(o, left_on="l_orderkey", right_on="o_orderkey")[
            ["o_custkey", "l_suppkey"]
        ].itertuples(index=False)
    }
    m, sx, sxx, sxy, num, den = _python_assortativity(pairs)
    assert abs(m * sxy) < 2**62 and abs(num) < 2**62  # staging bound
    row = degree_assortativity_trade(spark, sf_dir).collect()[0]
    assert (row["m"], row["sx"], row["sxx"], row["sxy"]) == (m, sx, sxx, sxy)
    assert (row["num"], row["den"]) == (num, den)
    expect_r = (
        int(math.floor((float(num) / float(den)) * 1_000_000.0))
        if den > 0 else None
    )
    assert row["r_ppm"] == expect_r
    # the correlation must be a correlation
    assert -1_000_001 <= row["r_ppm"] <= 1_000_000


def _write_graph(spark, tmp_path, pairs):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    spark.createDataFrame(
        [(i, c, "O", 1.0, t0, "P") for i, (c, _s) in enumerate(pairs)],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(i, 1, s, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0)
         for i, (_c, s) in enumerate(pairs)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))


def _oracle_row(tmp_path):
    con = duckdb_connection(tmp_path)
    row = con.execute(ASSORTATIVITY_ORACLE).fetchall()[0]
    con.close()
    return row


@pytest.mark.slow  # heavy tier (see conftest; VERDICT r14 #3)
def test_crafted_star_and_regular(spark, tmp_path):
    # star: one supplier, 5 customers -> hub deg 5 meets leaves deg 1:
    # maximally disassortative, r = -1 exactly -> r_ppm = -1000000
    star = [(c, 1) for c in range(1, 6)]
    _write_graph(spark, tmp_path, star)
    row = degree_assortativity_trade(spark, str(tmp_path)).collect()[0]
    m, sx, sxx, sxy, num, den = _python_assortativity(set(star))
    assert (row["num"], row["den"]) == (num, den)
    assert row["r_ppm"] == -1_000_000
    assert _oracle_row(tmp_path)[6] == -1_000_000

    # 2-regular graph (a 4-cycle c1-s1-c2-s2-c1): every degree equal ->
    # den = 0 -> NULL r on both engines
    cycle = [(1, 1), (1, 2), (2, 1), (2, 2)]
    _write_graph(spark, tmp_path, cycle)
    row = degree_assortativity_trade(spark, str(tmp_path)).collect()[0]
    assert row["den"] == 0 and row["r_ppm"] is None
    orc = _oracle_row(tmp_path)
    assert orc[5] == 0 and orc[6] is None
