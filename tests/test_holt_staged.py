"""Holt linear-trend smoothing (STAGED for r15).

Oracle differential (applyInPandas integer fold vs the recursive-CTE
recurrence — different engines AND different evaluation strategies), an
independent plain-Python recompute from the raw fixture (no pandas, no
Spark), crafted corpora (constant series -> zero trend and zero error
from day 2; a falling ramp -> NEGATIVE trend state, exercising the
truncating-division agreement on negatives on both engines), and the
int64 bound assertion from the staging comment.
"""

from __future__ import annotations


from talkinghead_datapipeline_spark.queries.timeseries import (
    HOLT_FORECAST_ORACLE,
    holt_linear_forecast_daily,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "holt_linear_forecast_daily",
        holt_linear_forecast_daily, HOLT_FORECAST_ORACLE,
    )
    assert res.ok, res.mismatches


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // b
    return q if a >= 0 else -q


def _holt(dollars):
    out = []
    l = b = f = None
    for x in dollars:
        if l is None:
            l, b, f = 1_000_000 * x, 0, None
        else:
            f = l + b
            l_new = _trunc_div(200 * 1_000_000 * x + 800 * (l + b), 1000)
            b = _trunc_div(100 * (l_new - l) + 900 * b, 1000)
            l = l_new
        out.append((l, b, f, None if f is None else 1_000_000 * x - f))
    return out


def test_matches_independent_python(spark, sf_dir):
    import datetime as dt

    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    pdf["day"] = pdf.o_orderdate.dt.date
    pdf["cents"] = (pdf.o_totalprice * 100).round().astype("int64")
    daily = pdf.groupby("day")["cents"].sum()
    d0, d1 = daily.index.min(), daily.index.max()
    days, dollars = [], []
    d = d0
    while d <= d1:
        days.append(d.isoformat())
        dollars.append(int(daily.get(d, 0)) // 100)
        d += dt.timedelta(days=1)
    assert 200 * 1_000_000 * max(dollars) < 2**62  # staging bound
    states = _holt(dollars)
    expect = [
        (day, x, l, b, f, e)
        for day, x, (l, b, f, e) in zip(days, dollars, states)
    ]
    got = [
        (r["day"], r["dollars"], r["level_micro"], r["trend_micro"],
         r["forecast_micro"], r["err_micro"])
        for r in holt_linear_forecast_daily(spark, sf_dir).collect()
    ]
    assert got == expect


def _write_orders(spark, tmp_path, day_values):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    spark.createDataFrame(
        [(i, 1, "O", float(v), t0 + dt.timedelta(days=i), "P")
         for i, v in enumerate(day_values)],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )


def _oracle_rows(tmp_path):
    con = duckdb_connection(tmp_path)
    rows = con.execute(HOLT_FORECAST_ORACLE).fetchall()
    con.close()
    return rows


def test_crafted_constant_and_falling(spark, tmp_path):
    # constant 250 $/day: level stays 250e6, trend 0, err 0 from day 2
    _write_orders(spark, tmp_path, [250.0] * 12)
    rows = holt_linear_forecast_daily(spark, str(tmp_path)).collect()
    assert all(r["level_micro"] == 250_000_000 for r in rows)
    assert all(r["trend_micro"] == 0 for r in rows)
    assert rows[0]["forecast_micro"] is None
    assert all(r["err_micro"] == 0 for r in rows[1:])
    assert [tuple(r)[2:4] for r in _oracle_rows(tmp_path)] == [
        (250_000_000, 0)
    ] * 12

    # falling ramp 1000, 900, ..., 0: trend goes NEGATIVE — the
    # truncating-division-on-negatives tier, pinned equal to the
    # reference fold on BOTH engines
    vals = [1000.0 - 100 * i for i in range(11)]
    _write_orders(spark, tmp_path, vals)
    states = _holt([int(v) for v in vals])
    assert any(b < 0 for _, b, _, _ in states), "ramp must drive b < 0"
    got = [
        (r["level_micro"], r["trend_micro"], r["forecast_micro"],
         r["err_micro"])
        for r in holt_linear_forecast_daily(spark, str(tmp_path)).collect()
    ]
    assert got == states
    orc = [(r[2], r[3], r[4], r[5]) for r in _oracle_rows(tmp_path)]
    assert orc == states
