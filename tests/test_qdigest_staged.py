"""Q-digest mergeable rank sketch (STAGED for r16).

Oracle differential, an independent Python recompute of the full
register set (pure dict arithmetic — no SQL), the rank-error /
mass-conservation / register-cardinality contracts, the MERGE property
(sum registers node-wise, recompress with the canonical
children+parent <= T rule, rank contract still holds on the union
corpus), and a crafted corpus exercising both the freeze-at-leaf and
full-collapse extremes on both engines.
"""

from __future__ import annotations

import pytest

from talkinghead_datapipeline_spark.queries.sketches import (
    _QD_DEPTH,
    _QD_K,
    _QD_LEAF_BASE,
    _QD_QUANTUM,
    QDIGEST_ORACLE,
    qdigest_rank_certified,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "qdigest_rank_certified",
        qdigest_rank_certified, QDIGEST_ORACLE,
    )
    assert res.ok, res.mismatches


# --- independent Python recompute (the engine spec, re-derived) -----------


def _digest_from_hist(hist: dict[int, int], t: int):
    """Leaf-histogram q-digest: internal nodes start massless, so the
    canonical merge test degenerates to pair-sum <= t (the engine spec)."""
    m = {_QD_LEAF_BASE + b: c for b, c in hist.items()}
    regs: dict[int, int] = {}
    for _ in range(_QD_DEPTH, 0, -1):
        pairs: dict[int, int] = {}
        for vid, c in m.items():
            pairs[vid // 2] = pairs.get(vid // 2, 0) + c
        over = {p for p, cs in pairs.items() if cs > t}
        for vid, c in m.items():
            if vid // 2 in over:
                regs[vid] = c
        m = {p: cs for p, cs in pairs.items() if cs <= t}
    regs.update(m)  # root survivor, if any
    return regs


def _hist_from_orders(spark, sf_dir) -> dict[int, int]:
    from pyspark.sql import functions as F

    from talkinghead_datapipeline_spark.catalog import load_table

    rows = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(
                f"CAST(round(o_totalprice * 100) AS BIGINT)"
                f" div {_QD_QUANTUM}"
            ).alias("b")
        )
        .groupBy("b")
        .count()
        .collect()
    )
    return {r["b"]: r["count"] for r in rows}


def test_matches_independent_python(spark, sf_dir):
    hist = _hist_from_orders(spark, sf_dir)
    n = sum(hist.values())
    t = n // _QD_K
    expect = _digest_from_hist(hist, t)
    got = {
        r["node_id"]: r["cnt"]
        for r in qdigest_rank_certified(spark, sf_dir).collect()
    }
    assert got == expect


def test_contracts(spark, sf_dir):
    """Mass conservation, monotone under-count, the 16*T rank bound, and
    the O(K log U) register-cardinality contract."""
    rows = qdigest_rank_certified(spark, sf_dir).collect()
    n = sum(r["cnt"] for r in rows)
    hist = _hist_from_orders(spark, sf_dir)
    assert n == sum(hist.values())  # every row's mass lands in a register
    t = rows[0]["qd_threshold"]
    assert all(r["bound_ok"] == 1 for r in rows)
    for r in rows:
        assert 0 <= r["rank_err"] <= _QD_DEPTH * t
        # internal registers carry mass <= T (their own child pair flowed
        # before the parent pair froze them); only leaves may exceed it
        if r["depth_level"] < _QD_DEPTH:
            assert r["cnt"] <= t
    # register count is sketch-sized: <= ~2*(K+1) frozen nodes per level
    assert len(rows) <= 2 * (_QD_K + 1) * _QD_DEPTH


# --- merge property (the reason this sketch exists) -----------------------


def _compress_general(masses: dict[int, int], t: int):
    """Canonical q-digest compression where internal nodes MAY carry
    mass (the post-merge state): children+parent <= t folds the triple."""
    cur = dict(masses)
    regs: dict[int, int] = {}
    for d in range(_QD_DEPTH, 0, -1):
        level = {
            v: c for v, c in cur.items() if (1 << d) <= v < (1 << (d + 1))
        }
        pairs: dict[int, int] = {}
        for vid, c in level.items():
            pairs[vid // 2] = pairs.get(vid // 2, 0) + c
        for p, cs in pairs.items():
            cp = cur.get(p, 0)
            if cs + cp <= t:
                cur[p] = cp + cs
                for ch in (2 * p, 2 * p + 1):
                    cur.pop(ch, None)
            else:
                for ch in (2 * p, 2 * p + 1):
                    if ch in cur:
                        regs[ch] = cur.pop(ch)
    regs.update(cur)  # whatever reached depth 0 (root)
    return regs


def _rank_from_regs(regs: dict[int, int], bucket: int) -> int:
    """est_rank(x) = sum of register counts whose range lies entirely
    <= x."""
    total = 0
    for vid, c in regs.items():
        depth = vid.bit_length() - 1
        width = _QD_LEAF_BASE >> depth
        hi = (vid - (1 << depth)) * width + width - 1
        if hi <= bucket:
            total += c
    return total


def test_merge_property(spark, sf_dir):
    """digest(A) ++ digest(B) (node-wise count sum, recompress at the
    union threshold) still satisfies the rank contract on A∪B: the
    estimate under-counts by at most 16*(T_A + T_B + T_union) — each
    constituent digest contributes at most its own per-level uncertainty,
    and the recompression at most the union's."""
    hist = _hist_from_orders(spark, sf_dir)
    items = sorted(hist.items())
    a = dict(items[0::2])
    b = dict(items[1::2])
    n_a, n_b = sum(a.values()), sum(b.values())
    t_a, t_b = n_a // _QD_K, n_b // _QD_K
    ra = _digest_from_hist(a, t_a)
    rb = _digest_from_hist(b, t_b)
    merged: dict[int, int] = dict(ra)
    for vid, c in rb.items():
        merged[vid] = merged.get(vid, 0) + c
    n_u = n_a + n_b
    t_u = n_u // _QD_K
    ru = _compress_general(merged, t_u)
    assert sum(ru.values()) == n_u  # merge conserves mass
    assert len(ru) <= 2 * (_QD_K + 1) * _QD_DEPTH
    # exact cumulative ranks of the union corpus
    cum, run = {}, 0
    for bkt in range(_QD_LEAF_BASE):
        run += hist.get(bkt, 0)
        cum[bkt] = run
    bound = _QD_DEPTH * (t_a + t_b + t_u)
    for probe in range(0, _QD_LEAF_BASE, 4096):
        est = _rank_from_regs(ru, probe)
        true = cum[probe]
        assert 0 <= true - est <= bound, (probe, est, true, bound)


# --- crafted extremes on both engines -------------------------------------


@pytest.fixture()
def crafted_dir(spark, tmp_path):
    """100 orders at one price (heavy leaf, freezes with cnt >> T) plus
    64 orders spread one per distant bucket (fully collapsing chains)."""
    rows = []
    okey = 0
    for _ in range(100):
        rows.append((okey, 1, "O", 1000.00, "1995-01-01", "1-URGENT",
                     "c", 0, "x"))
        okey += 1
    for i in range(64):
        rows.append((okey, 1, "O", 50.0 + i * 10240.0, "1995-01-01",
                     "1-URGENT", "c", 0, "x"))
        okey += 1
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string,"
        " o_clerk string, o_shippriority int, o_comment string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    return str(tmp_path)


def test_crafted_extremes(spark, crafted_dir):
    rows = qdigest_rank_certified(spark, crafted_dir).collect()
    n = 164
    t = n // _QD_K  # 2
    assert rows[0]["qd_threshold"] == t
    by_id = {r["node_id"]: r for r in rows}
    # the heavy bucket: 100000 cents // 1024 = bucket 97 freezes AT THE
    # LEAF with its full count (a leaf register may exceed T)
    heavy_leaf = _QD_LEAF_BASE + (100000 // _QD_QUANTUM)
    assert by_id[heavy_leaf]["cnt"] == 100
    assert by_id[heavy_leaf]["depth_level"] == _QD_DEPTH
    # every register holds the contract; mass conserved
    assert sum(r["cnt"] for r in rows) == n
    assert all(r["bound_ok"] == 1 for r in rows)
    # singleton spread rows collapse upward: every non-leaf register
    # carries mass <= T
    for r in rows:
        if r["depth_level"] < _QD_DEPTH:
            assert r["cnt"] <= t
    # DuckDB agrees bit-for-bit on the crafted corpus
    con = duckdb_connection(crafted_dir)
    odf = con.execute(QDIGEST_ORACLE).fetchdf()
    con.close()
    assert len(odf) == len(rows)
    got = {int(r["node_id"]): int(r["cnt"]) for _, r in odf.iterrows()}
    assert got == {r["node_id"]: r["cnt"] for r in rows}
