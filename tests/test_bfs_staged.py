"""Multi-source BFS hop layers on the trade network (STAGED for r15).

Oracle differential (frontier/anti-join iteration vs recursive (node,
dist) set recursion), an independent Python BFS recompute from the raw
fixture, a crafted chain graph with hand-computed layers incl. an
unreached island (pinned on both engines), and the layer contract
(distances partition the universe; counts sum to |customers| +
|suppliers|; parity — customers only at odd, suppliers at even hops).
"""

from __future__ import annotations

import pytest


from talkinghead_datapipeline_spark.queries.graph import (
    _BFS_MAX_HOPS,
    _SUPP_OFFSET,
    BFS_HOPS_ORACLE,
    bfs_hops_trade_network,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "bfs_hops_trade_network", bfs_hops_trade_network,
        BFS_HOPS_ORACLE,
    )
    assert res.ok, res.mismatches


def test_matches_independent_python_bfs(spark, sf_dir):
    """Classic queue BFS in plain Python over the same graph."""
    from collections import deque

    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).toPandas()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).toPandas()
    pairs = {
        (int(c), int(s))
        for c, s in li.merge(
            o, left_on="l_orderkey", right_on="o_orderkey"
        )[["o_custkey", "l_suppkey"]].itertuples(index=False)
    }
    adj = {}
    for c, s in pairs:
        sn = s + _SUPP_OFFSET
        adj.setdefault(c, set()).add(sn)
        adj.setdefault(sn, set()).add(c)
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).toPandas()
    nat = load_table(spark, sf_dir, "nation").toPandas()
    reg = load_table(spark, sf_dir, "region").toPandas()
    asia = set(
        nat.merge(reg, left_on="n_regionkey", right_on="r_regionkey")
        .query("r_name == 'ASIA'")["n_nationkey"]
    )
    seeds = {
        int(s) + _SUPP_OFFSET
        for s, n in supp[["s_suppkey", "s_nationkey"]].itertuples(index=False)
        if int(n) in asia
    }
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= _BFS_MAX_HOPS:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey").toPandas()
    expect = {}
    for c in cust.c_custkey:
        d = dist.get(int(c), -1)
        expect[(d, "customer")] = expect.get((d, "customer"), 0) + 1
    for s in supp.s_suppkey:
        d = dist.get(int(s) + _SUPP_OFFSET, -1)
        expect[(d, "supplier")] = expect.get((d, "supplier"), 0) + 1
    got = {
        (r["dist"], r["node_kind"]): r["n_nodes"]
        for r in bfs_hops_trade_network(spark, sf_dir).collect()
    }
    assert got == expect
    # layer contract: bipartite parity — customers at odd hops only,
    # suppliers at even hops only (distance -1 excepted)
    for (d, kind), _n in got.items():
        if d >= 0:
            assert (d % 2 == 1) == (kind == "customer")
    assert sum(v for (d, k), v in got.items() if k == "customer") == len(cust)
    assert sum(v for (d, k), v in got.items() if k == "supplier") == len(supp)


@pytest.mark.slow  # heavy tier (see conftest; VERDICT r14 #3)
def test_crafted_chain_with_island(spark, tmp_path):
    """Chain s1 - c1 - s2 - c2 - s3 - c3 ... long enough to exceed the
    hop cap, plus an isolated customer island: layers 0..4 land exactly,
    the chain tail and the island read -1 on both engines."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    # chain: supplier k connects to customer k (order 2k) and customer k
    # connects to supplier k+1 (order 2k+1): s1-c1-s2-c2-s3-c3-s4 ...
    orders, lines = [], []
    n_chain = 6
    ok = 1
    for k in range(1, n_chain + 1):
        orders.append((ok, k, "O", 1.0, t0, "P"))
        lines.append((ok, 1, k, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0))
        ok += 1
        orders.append((ok, k, "O", 1.0, t0, "P"))
        lines.append((ok, 1, k + 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0))
        ok += 1
    # island: customer 100 with no orders at all
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(k, "c", 0, 0.0, "S") for k in range(1, n_chain + 1)] + [
            (100, "island", 0, 0.0, "S")
        ],
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    # suppliers 1..n_chain+1; ONLY supplier 1 is in the ASIA nation
    spark.createDataFrame(
        [(k, "s", 0 if k == 1 else 1, 0.0) for k in range(1, n_chain + 2)],
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(0, "N_ASIA", 2), (1, "N_OTHER", 3)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(2, "ASIA"), (3, "EUROPE")], "r_regionkey int, r_name string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "region.parquet"))

    # hand layers: s1@0, c1@1, s2@2, c2@3, s3@4; c3.., s4.., island -> -1
    expect = {
        (0, "supplier"): 1,
        (1, "customer"): 1,
        (2, "supplier"): 1,
        (3, "customer"): 1,
        (4, "supplier"): 1,
        (-1, "customer"): n_chain - 2 + 1,  # c3..c6 + island
        (-1, "supplier"): n_chain + 1 - 3,  # s4..s7
    }
    got = {
        (r["dist"], r["node_kind"]): r["n_nodes"]
        for r in bfs_hops_trade_network(spark, str(tmp_path)).collect()
    }
    assert got == expect
    con = duckdb_connection(tmp_path)
    orc = {(r[0], r[1]): r[2] for r in con.execute(BFS_HOPS_ORACLE).fetchall()}
    con.close()
    assert orc == expect
