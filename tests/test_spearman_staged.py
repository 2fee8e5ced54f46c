"""Tie-corrected Spearman rank correlation (STAGED for r15).

Oracle differential, a hypothesis fuzz of the doubled-rank identity
(2·min_rank + tie_size − 1 == 2·average_rank for arbitrary multisets),
an independent pandas average-rank recompute (rank(method='average') —
a different ranking code path than both engines' window functions),
crafted monotone / reversed / constant corpora, and the int64 bound
assertion from the staging comment.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from talkinghead_datapipeline_spark.queries.stats_tests import (
    SPEARMAN_ORACLE,
    spearman_rank_corr_lang,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "spearman_rank_corr_lang", spearman_rank_corr_lang,
        SPEARMAN_ORACLE,
    )
    assert res.ok, res.mismatches


@given(st.lists(st.integers(min_value=0, max_value=20), min_size=1,
                max_size=100))
@settings(max_examples=300, deadline=None)
def test_doubled_rank_identity(xs):
    """For ANY multiset, 2·min_rank(x) + tie_count(x) − 1 equals twice
    the average (midrank) of x's positions in the sorted order."""
    sx = sorted(xs)
    for x in set(xs):
        positions = [i + 1 for i, v in enumerate(sx) if v == x]
        avg_rank_twice = 2 * sum(positions) // len(positions)
        min_rank = 1 + sum(1 for v in xs if v < x)
        cnt = xs.count(x)
        assert 2 * min_rank + cnt - 1 == avg_rank_twice


def _expect_from_pandas(pdf):
    """Moments from pandas midranks (doubled to integers)."""
    out = {}
    for lang, g in pdf.groupby("lang"):
        u = (g.x.rank(method="average") * 2).astype("int64")
        v = (g.y.rank(method="average") * 2).astype("int64")
        n = len(g)
        su, sv = int(u.sum()), int(v.sum())
        suu, svv = int((u * u).sum()), int((v * v).sum())
        suv = int((u * v).sum())
        num = n * suv - su * sv
        d1 = n * suu - su * su
        d2 = n * svv - sv * sv
        rho = (
            int(math.floor((float(num) / (math.sqrt(float(d1))
                                          * math.sqrt(float(d2))))
                           * 1_000_000.0))
            if d1 > 0 and d2 > 0 else None
        )
        out[lang] = (n, num, d1, d2, rho)
    return out


def test_matches_independent_pandas_midranks(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "documents").filter(
        "length(text) > 0"
    ).selectExpr(
        "lang", "CAST(n_chars AS BIGINT) AS x",
        "CAST(size(split(text, '\\\\s+')) AS BIGINT) AS y",
    ).toPandas()
    expect = _expect_from_pandas(pdf)
    # staging-comment bound: n * sum(u^2) <= 4n^4 with real headroom
    n_max = int(pdf.groupby("lang").size().max())
    assert 4 * n_max**4 < 2**62
    got = {
        r["lang"]: (r["n"], r["num"], r["d1"], r["d2"], r["rho_ppm"])
        for r in spearman_rank_corr_lang(spark, sf_dir).collect()
    }
    assert got == expect
    # the fixture's length/token-count pair is strongly monotone: every
    # lang should read a high positive rho
    assert all(v[4] is not None and v[4] > 500_000 for v in got.values())


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )


def test_crafted_monotone_reversed_constant(spark, tmp_path):
    """Perfect monotone -> rho_ppm = 1e6 exactly; perfect reversal ->
    -1e6; constant x -> NULL (d1 = 0). Pinned on both engines."""
    rows = []
    # lang 'up': y (token count) increases with n_chars: i+1 words
    for i in range(8):
        rows.append((i, " ".join(["w"] * (i + 1)), "up", "s", 10 + i))
    # lang 'dn': token count decreases as n_chars increases
    for i in range(8):
        rows.append((100 + i, " ".join(["w"] * (8 - i)), "dn", "s", 10 + i))
    # lang 'ct': constant n_chars
    for i in range(8):
        rows.append((200 + i, " ".join(["w"] * (i + 1)), "ct", "s", 42))
    _write_docs(spark, tmp_path, rows)
    got = {
        r["lang"]: (r["num"], r["d1"], r["d2"], r["rho_ppm"])
        for r in spearman_rank_corr_lang(spark, str(tmp_path)).collect()
    }
    assert got["up"][3] == 1_000_000
    assert got["dn"][3] == -1_000_000
    assert got["ct"][1] == 0 and got["ct"][3] is None
    con = duckdb_connection(tmp_path)
    orc = {r[0]: r for r in con.execute(SPEARMAN_ORACLE).fetchall()}
    con.close()
    assert orc["up"][5] == 1_000_000
    assert orc["dn"][5] == -1_000_000
    assert orc["ct"][5] is None
