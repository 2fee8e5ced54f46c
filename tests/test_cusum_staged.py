"""Two-sided Page CUSUM drift chart (STAGED for r15).

Oracle differential (closed-form prefix identity vs the textbook
recursive-CTE recurrence — genuinely different formulations), an
independent Python sequential recompute from the raw fixture, a
hypothesis fuzz of the reflected-prefix identity itself, crafted corpora
pinning the constant-series (all-zero, no alarms) and step-shift (alarm
fires and latches while the shift persists) behaviors, and the int64
overflow-bound assertion from the staging comment.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from talkinghead_datapipeline_spark.queries.timeseries import (
    CUSUM_DRIFT_ORACLE,
    cusum_drift_daily,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "cusum_drift_daily", cusum_drift_daily,
        CUSUM_DRIFT_ORACLE,
    )
    assert res.ok, res.mismatches


@given(
    st.lists(st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=200)
)
@settings(max_examples=300, deadline=None)
def test_reflected_prefix_identity(ds):
    """For ANY integer increment sequence, the sequential recurrence
    S_t = max(0, S_{t-1} + d_t) equals P_t - min(0, min_{i<=t} P_i)."""
    s = 0
    p = 0
    runmin = 0
    for d in ds:
        s = max(0, s + d)
        p += d
        runmin = min(runmin, p)
        assert s == p - min(0, runmin)


def test_matches_independent_python_recurrence(spark, sf_dir):
    """Recompute the whole chart from the raw orders fixture with the
    sequential recurrence in plain Python — a third code path sharing
    neither the window identity nor the recursive CTE."""
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    pdf["day"] = pdf.o_orderdate.dt.date
    pdf["cents"] = (pdf.o_totalprice * 100).round().astype("int64")
    daily = pdf.groupby("day")["cents"].sum()
    import datetime as dt

    d0, d1 = daily.index.min(), daily.index.max()
    days, dollars = [], []
    d = d0
    while d <= d1:
        days.append(d)
        dollars.append(int(daily.get(d, 0)) // 100)
        d += dt.timedelta(days=1)
    n = len(dollars)
    m = sum(dollars) // n
    slack, h = m // 20, m
    # overflow bound from the staging comment: sum of |increments| far
    # inside int64
    assert n * (max(dollars) + m + slack) < 2**62
    expect = []
    s_up = s_dn = 0
    for day, x in zip(days, dollars):
        s_up = max(0, s_up + (x - (m + slack)))
        s_dn = max(0, s_dn + ((m - slack) - x))
        expect.append(
            (day.isoformat(), x, s_up, s_dn, int(s_up > h), int(s_dn > h))
        )
    got = [
        (r["day"], r["dollars"], r["s_up_dollars"], r["s_dn_dollars"],
         r["alarm_up"], r["alarm_dn"])
        for r in cusum_drift_daily(spark, sf_dir).collect()
    ]
    assert got == expect


def _write_orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )


def _oracle_rows(tmp_path):
    con = duckdb_connection(tmp_path)
    rows = con.execute(CUSUM_DRIFT_ORACLE).fetchall()
    con.close()
    return rows


def test_crafted_constant_and_step(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)

    # corpus A: constant 100 $/day for 10 days -> m=100, slack=5, both
    # sides decrement below zero every day -> S==0 everywhere, no alarms
    _write_orders(
        spark, tmp_path,
        [(i, 1, "O", 100.0, t0 + dt.timedelta(days=i), "P") for i in range(10)],
    )
    rows = cusum_drift_daily(spark, str(tmp_path)).collect()
    assert len(rows) == 10
    assert all(r["s_up_dollars"] == 0 and r["s_dn_dollars"] == 0 for r in rows)
    assert all(r["alarm_up"] == 0 and r["alarm_dn"] == 0 for r in rows)
    assert all(r[2] == 0 and r[3] == 0 for r in _oracle_rows(tmp_path))

    # corpus B: 10 days at 100 then 10 days at 300 -> m=200, slack=10,
    # h=200; upward side accumulates (300-210)=90/day in the second half
    # (alarm latches from day 13: 3*90=270 > 200), downward side
    # accumulates (190-100)=90/day in the FIRST half (alarm from day 3)
    # and drains at 110/day in the second
    _write_orders(
        spark, tmp_path,
        [(i, 1, "O", 100.0 if i < 10 else 300.0,
          t0 + dt.timedelta(days=i), "P") for i in range(20)],
    )
    rows = cusum_drift_daily(spark, str(tmp_path)).collect()
    assert len(rows) == 20
    up = [r["s_up_dollars"] for r in rows]
    dn = [r["s_dn_dollars"] for r in rows]
    assert up[:10] == [0] * 10
    assert up[10:] == [90 * (i + 1) for i in range(10)]
    assert dn[:10] == [90 * (i + 1) for i in range(10)]
    # drains at 300 - 190 = 110/day from 900
    assert dn[10:] == [max(0, 900 - 110 * (i + 1)) for i in range(10)]
    alarms_up = [r["alarm_up"] for r in rows]
    assert alarms_up.index(1) == 12  # 3 days * 90 = 270 > h = 200
    assert all(a == 1 for a in alarms_up[12:])
    oracle = _oracle_rows(tmp_path)
    assert [r[2] for r in oracle] == up
    assert [r[3] for r in oracle] == dn
