"""Kleinberg HITS hubs/authorities (STAGED for r15).

Oracle differential (Spark adjacency groupBys vs the unrolled-CTE
recurrence), an independent Python recompute of the exact 2-sweep
integer recurrence from the raw fixture, a crafted corpus with a
hand-computable hub/authority structure pinned on both engines, the
score contract (range, max-attained, deterministic rank tiebreaks), and
the int64 bound assertion from the staging comment.
"""

from __future__ import annotations


from talkinghead_datapipeline_spark.queries.graph import (
    HITS_ORACLE,
    hits_hubs_authorities,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "hits_hubs_authorities", hits_hubs_authorities,
        HITS_ORACLE,
    )
    assert res.ok, res.mismatches


def _python_hits(edges):
    """Exact integer 2-sweep max-normalized HITS over (cust, brand)."""
    custs = sorted({c for c, _ in edges})
    brands = sorted({b for _, b in edges})
    adj_c = {c: [b for cc, b in edges if cc == c] for c in custs}
    adj_b = {b: [c for c, bb in edges if bb == b] for b in brands}
    a = {b: 1_000_000 for b in brands}
    h = {}
    for _ in range(2):
        raw_h = {c: sum(a[b] for b in adj_c[c]) for c in custs}
        mx = max(raw_h.values())
        h = {c: (raw_h[c] * 1_000_000) // mx for c in custs}
        raw_a = {b: sum(h[c] for c in adj_b[b]) for b in brands}
        mx = max(raw_a.values())
        a = {b: (raw_a[b] * 1_000_000) // mx for b in brands}
    return h, a


def test_matches_independent_python(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).toPandas()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).toPandas()
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    ).toPandas()
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey").merge(
        p, left_on="l_partkey", right_on="p_partkey"
    )
    edges = sorted({(int(r.o_custkey), r.p_brand) for r in m.itertuples()})
    # staging-comment bound: worst adjacency sum * 1e6 far inside int64
    n_cust = len({c for c, _ in edges})
    assert n_cust * 1_000_000 * 1_000_000 < 2**62
    h, a = _python_hits(edges)
    rows = hits_hubs_authorities(spark, sf_dir).collect()
    got_auth = {
        r["node"]: r["score_ppm"] for r in rows if r["role"] == "authority"
    }
    assert got_auth == a
    hub_rows = [r for r in rows if r["role"] == "hub"]
    assert len(hub_rows) == min(20, n_cust)
    # ranks must walk (score DESC, custkey ASC)
    expect_order = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))
    for r, (cust, score) in zip(
        sorted(hub_rows, key=lambda r: r["rnk"]), expect_order
    ):
        assert r["node"] == str(cust) and r["score_ppm"] == score
    assert max(got_auth.values()) == 1_000_000
    assert max(r["score_ppm"] for r in hub_rows) == 1_000_000


def test_crafted_star_graph(spark, tmp_path):
    """3 customers, 3 brands: c1 buys b1+b2+b3 (the hub), c2 buys b1,
    c3 buys b1 (b1 the authority). Hand-computed integer recurrence
    pinned on both engines."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    spark.createDataFrame(
        [(k, c, "O", 1.0, t0, "P")
         for k, c in [(1, 1), (2, 1), (3, 1), (4, 2), (5, 3)]],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    # order 1/2/3 (cust 1) carry parts of brands 1/2/3; orders 4, 5 brand 1
    spark.createDataFrame(
        [(1, 10, 100, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
         (2, 20, 100, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
         (3, 30, 100, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
         (4, 10, 100, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
         (5, 10, 100, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    spark.createDataFrame(
        [(10, "p", "B1", "t", 1, 1.0), (20, "p", "B2", "t", 1, 1.0),
         (30, "p", "B3", "t", 1, 1.0)],
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )
    # hand recurrence: deg(c1)=3, deg(c2)=deg(c3)=1 -> h1 = 1e6, 333333,
    # 333333; a1raw(B1)=1e6+333333+333333=1666666 (max), a1raw(B2/B3)=1e6
    # -> a1(B1)=1e6, a1(B2)=a1(B3)=(1e6*1e6)//1666666=599999 (wait: check
    # in python below instead of hand constants)
    edges = [(1, "B1"), (1, "B2"), (1, "B3"), (2, "B1"), (3, "B1")]
    h, a = _python_hits(edges)
    assert a["B1"] == 1_000_000 and h[1] == 1_000_000
    assert a["B2"] == a["B3"] < 1_000_000
    assert h[2] == h[3] < 1_000_000
    rows = hits_hubs_authorities(spark, str(tmp_path)).collect()
    got_a = {r["node"]: r["score_ppm"] for r in rows if r["role"] == "authority"}
    got_h = {int(r["node"]): r["score_ppm"] for r in rows if r["role"] == "hub"}
    assert got_a == a and got_h == h
    # authority ranks: B1 first, then B2/B3 tie broken by brand asc
    auth_by_rank = sorted(
        (r for r in rows if r["role"] == "authority"), key=lambda r: r["rnk"]
    )
    assert [r["node"] for r in auth_by_rank] == ["B1", "B2", "B3"]
    con = duckdb_connection(tmp_path)
    orc = con.execute(HITS_ORACLE).fetchall()
    con.close()
    assert {(r[0], r[1]): r[2] for r in orc} == {
        **{("authority", b): s for b, s in a.items()},
        **{("hub", str(c)): s for c, s in h.items()},
    }
