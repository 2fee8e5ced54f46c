"""Difference-in-differences (STAGED for r15).

Oracle differential, an independent direct-filter Python recompute from
the raw fixture (midpoint re-derived with datetime arithmetic), a
parallel-trends crafted corpus with a hand-known treatment effect
(control drifts +100, treated drifts +100 plus a 50 effect -> DiD
recovers exactly 50e6 micro), a degenerate empty-cell corpus (NULL DiD
on both engines), and the overflow bound assertion.
"""

from __future__ import annotations

import datetime as dt


from talkinghead_datapipeline_spark.queries.behavior import (
    DIFF_IN_DIFF_ORACLE,
    diff_in_diff_order_value,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "diff_in_diff_order_value",
        diff_in_diff_order_value, DIFF_IN_DIFF_ORACLE,
    )
    assert res.ok, res.mismatches


def test_matches_independent_python(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    ).toPandas()
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).toPandas()
    o = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    o["day"] = o.o_orderdate.dt.date
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    d0, d1 = o.day.min(), o.day.max()
    d_mid = d0 + dt.timedelta(days=(d1 - d0).days // 2)
    o["grp"] = (o.c_mktsegment == "BUILDING").astype(int)
    o["period"] = (o.day > d_mid).astype(int)
    cells = {}
    for (g, p), grp in o.groupby(["grp", "period"]):
        cells[(g, p)] = (len(grp), int(grp.cents.sum()))
    assert max(s for _, s in cells.values()) * 10_000 < 2**62
    m = {k: (s * 10_000) // n for k, (n, s) in cells.items()}
    expect_did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    row = diff_in_diff_order_value(spark, sf_dir).collect()[0]
    for g in (0, 1):
        for p in (0, 1):
            assert row[f"n{g}{p}"] == cells[(g, p)][0]
            assert row[f"s{g}{p}"] == cells[(g, p)][1]
    assert row["did_micro"] == expect_did


def _write(spark, tmp_path, orders, customers):
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        customers,
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))


def _oracle_row(tmp_path):
    con = duckdb_connection(tmp_path)
    row = con.execute(DIFF_IN_DIFF_ORACLE).fetchall()[0]
    con.close()
    return row


def test_crafted_parallel_trends(spark, tmp_path):
    """Control: 200 -> 300 across the midpoint. Treated (BUILDING):
    400 -> 550 = the same +100 trend plus a +50 treatment effect.
    DiD must recover exactly 50e6 micro-dollars on both engines."""
    t0 = dt.datetime(2026, 1, 1)
    customers = [(1, "ctrl", 0, 0.0, "MACHINERY"), (2, "trt", 0, 0.0, "BUILDING")]
    orders = []
    k = 0
    # span day 0 .. day 10 -> d_mid = day 5; period 1 is day > 5
    for day, price, cust in [
        (0, 200.0, 1), (2, 200.0, 1), (8, 300.0, 1), (10, 300.0, 1),
        (1, 400.0, 2), (3, 400.0, 2), (7, 550.0, 2), (9, 550.0, 2),
    ]:
        orders.append((k, cust, "O", price, t0 + dt.timedelta(days=day), "P"))
        k += 1
    _write(spark, tmp_path, orders, customers)
    row = diff_in_diff_order_value(spark, str(tmp_path)).collect()[0]
    assert (row["n00"], row["n01"], row["n10"], row["n11"]) == (2, 2, 2, 2)
    assert row["did_micro"] == 50_000_000
    assert _oracle_row(tmp_path)[8] == 50_000_000

    # degenerate: no treated orders in period 0 -> NULL DiD on both
    orders2 = [o for o in orders if not (o[1] == 2 and o[4] <= t0 + dt.timedelta(days=5))]
    _write(spark, tmp_path, orders2, customers)
    row = diff_in_diff_order_value(spark, str(tmp_path)).collect()[0]
    assert row["n10"] is None or row["n10"] == 0 or row["did_micro"] is None
    assert row["did_micro"] is None
    assert _oracle_row(tmp_path)[8] is None
