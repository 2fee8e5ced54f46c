"""Out-of-fold target encoding (STAGED for r15).

Oracle differential (windowed total-minus-cell vs literal correlated
self-exclusion subqueries — genuinely different formulations of
"trained on everything except this fold"), an independent Python
recompute from the raw fixture, the leakage contract (no cell's encoding
changes when its own fold's rows are perturbed), a crafted degenerate
corpus (segment in a single fold -> NULL mean, prior-valued smoothing),
and the int64 overflow-bound assertion from the staging comment.
"""

from __future__ import annotations

import pytest


from talkinghead_datapipeline_spark.queries.mlstats import (
    OOF_TARGET_ENCODING_ORACLE,
    oof_target_encoding_segment,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "oof_target_encoding_segment",
        oof_target_encoding_segment, OOF_TARGET_ENCODING_ORACLE,
    )
    assert res.ok, res.mismatches


def _fold(orderkey: int) -> int:
    import hashlib

    return int(hashlib.md5(f"te{orderkey}".encode()).hexdigest()[:8], 16) % 5


def test_matches_independent_python(spark, sf_dir):
    """Recompute every cell from the raw fixture in plain Python — fold
    hash from hashlib, exclusion by explicit filtering."""
    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).toPandas()
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).toPandas()
    o = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    o["fold"] = o.o_orderkey.map(_fold)
    # overflow bound from the staging comment
    assert int(o.cents.sum()) * 10_000 < 2**62
    expect = {}
    for (seg, fold), _ in o.groupby(["c_mktsegment", "fold"]):
        tr = o[(o.c_mktsegment == seg) & (o.fold != fold)]
        gtr = o[o.fold != fold]
        n_tr, s_tr = len(tr), int(tr.cents.sum()) if len(tr) else 0
        prior = (int(gtr.cents.sum()) * 10_000) // len(gtr)
        mean = (s_tr * 10_000) // n_tr if n_tr else None
        smoothed = (s_tr * 10_000 + 20 * prior) // (n_tr + 20)
        expect[(seg, fold)] = (n_tr, mean, smoothed)
    got = {
        (r["segment"], r["fold"]): (
            r["n_train"], r["oof_mean_micro"], r["oof_smoothed_micro"]
        )
        for r in oof_target_encoding_segment(spark, sf_dir).collect()
    }
    assert got == expect


def _write_tables(spark, tmp_path, orders, customers):
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame(
        customers,
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "customer.parquet")
    )


@pytest.mark.slow  # heavy tier (see conftest; VERDICT r14 #3)
def test_leakage_contract(spark, tmp_path):
    """Perturbing ONLY fold f's target values must leave every fold-f
    encoding unchanged — the defining property of out-of-fold encoding."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    customers = [(1, "a", 0, 0.0, "SEG1"), (2, "b", 0, 0.0, "SEG2")]
    # enough orders that every fold appears for both segments
    orders = [
        (k, 1 + (k % 2), "O", 100.0 + k, t0, "P") for k in range(1, 101)
    ]
    _write_tables(spark, tmp_path, orders, customers)
    before = {
        (r["segment"], r["fold"]): (
            r["n_train"], r["oof_mean_micro"], r["oof_smoothed_micro"]
        )
        for r in oof_target_encoding_segment(spark, str(tmp_path)).collect()
    }
    target_fold = 2
    perturbed = [
        (k, ck, st, price + (10_000.0 if _fold(k) == target_fold else 0.0),
         ts, pr)
        for (k, ck, st, price, ts, pr) in orders
    ]
    _write_tables(spark, tmp_path, perturbed, customers)
    after = {
        (r["segment"], r["fold"]): (
            r["n_train"], r["oof_mean_micro"], r["oof_smoothed_micro"]
        )
        for r in oof_target_encoding_segment(spark, str(tmp_path)).collect()
    }
    for (seg, fold), vals in before.items():
        if fold == target_fold:
            assert after[(seg, fold)] == vals, (
                "fold-%d encoding leaked its own fold's targets" % fold
            )
        else:
            # sanity: other folds DO see the perturbation
            assert after[(seg, fold)] != vals


def test_degenerate_single_fold_segment(spark, tmp_path):
    """A segment whose rows all land in one fold: NULL mean, smoothing
    collapses to the (fold-excluded) prior — identical on both engines."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    # orderkey 3 hashes to some fold f3; SEG2 exists only there
    k_seg2 = 3
    f3 = _fold(k_seg2)
    customers = [(1, "a", 0, 0.0, "SEG1"), (2, "b", 0, 0.0, "SEG2")]
    orders = [(k, 1, "O", 100.0, t0, "P") for k in range(10, 60)] + [
        (k_seg2, 2, "O", 777.0, t0, "P")
    ]
    _write_tables(spark, tmp_path, orders, customers)
    rows = {
        (r["segment"], r["fold"]): r
        for r in oof_target_encoding_segment(spark, str(tmp_path)).collect()
    }
    r = rows[("SEG2", f3)]
    assert r["n_train"] == 0 and r["oof_mean_micro"] is None
    # smoothed = (0 + 20*prior) div 20 = prior over all non-f3 rows
    seg1_folds = [_fold(k) for k in range(10, 60)]
    non_f3 = [k for k, f in zip(range(10, 60), seg1_folds) if f != f3]
    prior = (len(non_f3) * 10_000 * 10_000) // len(non_f3)  # all 100.00
    assert r["oof_smoothed_micro"] == prior
    con = duckdb_connection(tmp_path)
    orc = {
        (row[0], row[1]): row
        for row in con.execute(OOF_TARGET_ENCODING_ORACLE).fetchall()
    }
    con.close()
    # oracle tuple: (segment, fold, n_train, oof_mean_micro, oof_smoothed)
    assert orc[("SEG2", f3)][2] == 0
    assert orc[("SEG2", f3)][3] is None
    assert orc[("SEG2", f3)][4] == prior
