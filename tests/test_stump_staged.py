"""Gini-gain decision-stump split scoring (STAGED for r15).

Oracle differential, an independent direct-filter Python recompute
(thresholds re-derived by sorting, sides counted by literal filtering —
no cumulative frame), a Fraction-exactness envelope fuzz (the ppb
quantize-first gain sits within 3 quanta of the exact rational gain for
arbitrary random splits), a crafted perfectly-separable corpus (best
split recovers the separator with gain == parent impurity), and the
int64 bound assertion from the staging comment.
"""

from __future__ import annotations

import math
from fractions import Fraction

from hypothesis import given, settings
from hypothesis import strategies as st

from talkinghead_datapipeline_spark.queries.mlstats import (
    DECISION_STUMP_ORACLE,
    decision_stump_split_scores,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "decision_stump_split_scores",
        decision_stump_split_scores, DECISION_STUMP_ORACLE,
    )
    assert res.ok, res.mismatches


def _quantized_gain(n, p, n_l, pos_l):
    q = 1_000_000_000
    neg, neg_l = n - p, n_l - pos_l
    n_r, pos_r = n - n_l, p - pos_l
    neg_r = n_r - pos_r
    parent = ((n * n - p * p - neg * neg) * q) // (n * n)
    if n_l == 0 or n_r == 0:
        return parent, None
    child_l = ((n_l * n_l - pos_l * pos_l - neg_l * neg_l) * q) // (n_l * n)
    child_r = ((n_r * n_r - pos_r * pos_r - neg_r * neg_r) * q) // (n_r * n)
    return parent, parent - child_l - child_r


@given(
    st.integers(min_value=2, max_value=500),   # n
    st.data(),
)
@settings(max_examples=300, deadline=None)
def test_quantized_gain_within_exact_envelope(n, data):
    """|gain_ppb − exact rational gain·1e9| < 3 quanta for ANY split —
    each of the three quantized terms floors once."""
    p = data.draw(st.integers(min_value=0, max_value=n))
    n_l = data.draw(st.integers(min_value=1, max_value=n - 1))
    lo, hi = max(0, p - (n - n_l)), min(p, n_l)
    pos_l = data.draw(st.integers(min_value=lo, max_value=hi))
    _, gain = _quantized_gain(n, p, n_l, pos_l)
    n_r, pos_r = n - n_l, p - pos_l

    def gini(nn, pp):
        return 1 - Fraction(pp, nn) ** 2 - Fraction(nn - pp, nn) ** 2

    exact = (
        gini(n, p)
        - Fraction(n_l, n) * gini(n_l, pos_l)
        - Fraction(n_r, n) * gini(n_r, pos_r)
    ) * 1_000_000_000
    assert abs(gain - exact) < 3


def test_matches_independent_python(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "documents").select(
        "n_chars", "lang"
    ).toPandas()
    xs = pdf.n_chars.astype("int64").tolist()
    pos = (pdf.lang == "en").astype("int64").tolist()
    n, p = len(xs), sum(pos)
    assert n * n * 1_000_000_000 < 2**63  # staging-comment bound
    sx = sorted(xs)
    thresholds = set()
    for i in range(1, 10):
        need = (i * n + 9) // 10  # ceil(i*n/10)
        thresholds.add(sx[need - 1])  # min x with cum count >= need
    expect = {}
    for t in thresholds:
        n_l = sum(1 for x in xs if x <= t)
        pos_l = sum(q for x, q in zip(xs, pos) if x <= t)
        parent, gain = _quantized_gain(n, p, n_l, pos_l)
        expect[t] = (n_l, pos_l, n - n_l, p - pos_l, parent, gain)
    rows = decision_stump_split_scores(spark, sf_dir).collect()
    got = {
        r["threshold"]: (r["n_l"], r["pos_l"], r["n_r"], r["pos_r"],
                         r["parent_imp_ppb"], r["gain_ppb"])
        for r in rows
    }
    assert got == expect
    # is_best points at the max-gain (threshold-tiebroken) row
    best = [r for r in rows if r["is_best"] == 1]
    assert len(best) == 1
    mx = max((g for *_x, g in expect.values() if g is not None))
    assert expect[best[0]["threshold"]][5] == mx


def test_crafted_perfect_separation(spark, tmp_path):
    """x < 100 all non-en, x >= 100 all en, equal halves: the decile
    threshold at the boundary separates perfectly -> its gain equals the
    parent impurity (children are pure), and is_best lands there."""
    rows = []
    for i in range(50):
        rows.append((i, "t", "de", "s", 10 + (i % 5)))
    for i in range(50):
        rows.append((100 + i, "t", "en", "s", 100 + (i % 5)))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = decision_stump_split_scores(spark, str(tmp_path)).collect()
    best = [r for r in out if r["is_best"] == 1][0]
    # n=100, p=50 -> parent = 0.5 * 1e9; perfect split: children pure
    assert best["parent_imp_ppb"] == 500_000_000
    assert best["gain_ppb"] == 500_000_000
    assert best["threshold"] == 14  # max of the low cluster
    assert best["pos_l"] == 0 and best["pos_r"] == 50
    con = duckdb_connection(tmp_path)
    orc = con.execute(DECISION_STUMP_ORACLE).fetchall()
    con.close()
    ob = [r for r in orc if r[7] == 1][0]
    assert ob[0] == 14 and ob[6] == 500_000_000
