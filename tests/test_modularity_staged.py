"""Newman-Girvan modularity of the nation partition (STAGED for r15).

Oracle differential, an independent Python recompute (adjacency dicts +
the textbook Σ[A_c/M − (K_c/M)²] formula in Fractions, checked against
the engine's exact-integer Q·M² form), and crafted corpora: two
disconnected equal communities (Q = 1/2 exactly -> q_ppm = 500000) and
everything in one community (Q = 0 exactly).
"""

from __future__ import annotations

import pytest

import datetime as dt
from fractions import Fraction


from talkinghead_datapipeline_spark.queries.graph import (
    _SUPP_OFFSET,
    MODULARITY_ORACLE,
    modularity_nation_partition,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "modularity_nation_partition",
        modularity_nation_partition, MODULARITY_ORACLE,
    )
    assert res.ok, res.mismatches


def test_matches_independent_python(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).toPandas()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).toPandas()
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    ).toPandas()
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).toPandas()
    pairs = {
        (int(c), int(s))
        for c, s in li.merge(o, left_on="l_orderkey", right_on="o_orderkey")[
            ["o_custkey", "l_suppkey"]
        ].itertuples(index=False)
    }
    lab = {int(r.c_custkey): int(r.c_nationkey) for r in cust.itertuples()}
    lab.update({
        int(r.s_suppkey) + _SUPP_OFFSET: int(r.s_nationkey)
        for r in supp.itertuples()
    })
    directed = []
    for c, s in pairs:
        sn = s + _SUPP_OFFSET
        directed.append((c, sn))
        directed.append((sn, c))
    M = len(directed)
    a_inner, k_deg, nodes = {}, {}, {}
    for a, b in directed:
        ca, cb = lab[a], lab[b]
        k_deg[ca] = k_deg.get(ca, 0) + 1
        if ca == cb:
            a_inner[ca] = a_inner.get(ca, 0) + 1
        nodes.setdefault(ca, set()).add(a)
    q_total = sum(
        M * a_inner.get(c, 0) - k_deg[c] ** 2 for c in k_deg
    )
    assert abs(q_total) * 1_000_000 < 2**62 and M * M < 2**62
    # textbook Fraction form must equal the integer form exactly
    q_frac = sum(
        Fraction(a_inner.get(c, 0), M) - Fraction(k_deg[c], M) ** 2
        for c in k_deg
    )
    assert q_frac == Fraction(q_total, M * M)
    # Q is slightly NEGATIVE for the nation partition of this dense
    # bipartite fixture; both engines' integer division truncates toward
    # zero (the SCALING.md trunc-div note) where Python's // floors
    num = q_total * 1_000_000
    expect_ppm = abs(num) // (M * M) * (1 if num >= 0 else -1)
    rows = modularity_nation_partition(spark, sf_dir).collect()
    got = {
        r["community"]: (r["n_nodes"], r["a_inner"], r["k_degree"], r["q_num"])
        for r in rows
    }
    expect = {
        c: (len(nodes[c]), a_inner.get(c, 0), k_deg[c],
            M * a_inner.get(c, 0) - k_deg[c] ** 2)
        for c in k_deg
    }
    assert got == expect
    assert all(r["q_ppm"] == expect_ppm for r in rows)


def _write_graph(spark, tmp_path, pairs, cust_nation, supp_nation):
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
    spark.createDataFrame(
        [(c, "c", n, 0.0, "S") for c, n in cust_nation.items()],
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(s, "s", n, 0.0) for s, n in supp_nation.items()],
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))


def _oracle_rows(tmp_path):
    con = duckdb_connection(tmp_path)
    rows = con.execute(MODULARITY_ORACLE).fetchall()
    con.close()
    return rows


@pytest.mark.slow  # heavy tier (see conftest; VERDICT r14 #3)
def test_crafted_two_cliques_and_one_block(spark, tmp_path):
    # two disconnected 2x2 bicliques in separate nations: half the degree
    # mass and all inner edges per community -> Q = 2*(1/2 - 1/4) = 1/2
    pairs = [(1, 1), (1, 2), (2, 1), (2, 2),   # nation 0
             (3, 3), (3, 4), (4, 3), (4, 4)]   # nation 1
    cust_nation = {1: 0, 2: 0, 3: 1, 4: 1}
    supp_nation = {1: 0, 2: 0, 3: 1, 4: 1}
    _write_graph(spark, tmp_path, pairs, cust_nation, supp_nation)
    rows = modularity_nation_partition(spark, str(tmp_path)).collect()
    assert all(r["q_ppm"] == 500_000 for r in rows)
    assert {r["community"]: r["a_inner"] for r in rows} == {0: 8, 1: 8}
    assert all(r[5] == 500_000 for r in _oracle_rows(tmp_path))

    # same graph, everyone in ONE nation -> Q = 1 - 1 = 0 exactly
    _write_graph(spark, tmp_path, pairs,
                 {k: 0 for k in cust_nation}, {k: 0 for k in supp_nation})
    rows = modularity_nation_partition(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0]["q_ppm"] == 0
    assert _oracle_rows(tmp_path)[0][5] == 0
