"""KMV distinct/intersection sketch (STAGED for r15).

Oracle differential, an independent Python recompute (hashlib md5 order
statistics + literal set ops — no SQL), the estimator contract (exact
passthrough below k; accuracy envelope vs the emitted true counts at
fixture scale), and a crafted small corpus where every sketch is exact
(n < k -> est == true, jaccard exact) pinned on both engines.
"""

from __future__ import annotations

import hashlib


from talkinghead_datapipeline_spark.queries.sketches import (
    _KMV_K,
    KMV_ORACLE,
    kmv_distinct_intersection,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "kmv_distinct_intersection",
        kmv_distinct_intersection, KMV_ORACLE,
    )
    assert res.ok, res.mismatches


def _h(uid: int) -> int:
    return int(hashlib.md5(f"kmv|{uid}".encode()).hexdigest()[:8], 16)


def _expected(viewers, buyers):
    k = _KMV_K
    ha = sorted({_h(u) for u in viewers})
    hb = sorted({_h(u) for u in buyers})
    ska, skb = ha[:k], hb[:k]
    sku = sorted(set(ska) | set(skb))[:k]
    n_common = len([h for h in sku if h in set(ska) and h in set(skb)])

    def est(sk, full_n):
        return ((k - 1) * 2**32) // sk[-1] if len(sk) == k else len(sk)

    est_a, est_b = est(ska, len(ha)), est(skb, len(hb))
    est_u = est(sku, None)
    return {
        "kth_a": ska[-1], "kth_b": skb[-1], "kth_u": sku[-1],
        "n_common": n_common,
        "true_a": len(set(viewers)), "true_b": len(set(buyers)),
        "true_common": len(set(viewers) & set(buyers)),
        "est_a": est_a, "est_b": est_b, "est_union": est_u,
        "jaccard_ppm": (n_common * 1_000_000) // len(sku),
        "est_intersection": (n_common * est_u) // len(sku),
    }


def test_matches_independent_python(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type"
    ).toPandas()
    viewers = set(ev[ev.event_type == "view"].user_id.astype(int))
    buyers = set(ev[ev.event_type == "purchase"].user_id.astype(int))
    expect = _expected(viewers, buyers)
    row = kmv_distinct_intersection(spark, sf_dir).collect()[0]
    got = {c: row[c] for c in expect}
    assert got == expect
    # accuracy envelope at fixture scale: KMV with k=256 has relative
    # std err ~ 1/sqrt(k-2) ~ 6.3%; allow a generous 5-sigma band
    if expect["true_a"] > _KMV_K:
        assert abs(row["est_a"] - row["true_a"]) < 0.35 * row["true_a"]
    if expect["true_b"] > _KMV_K:
        assert abs(row["est_b"] - row["true_b"]) < 0.35 * row["true_b"]


def test_crafted_exact_below_k(spark, tmp_path):
    """With fewer than k distinct users per side the sketch IS the full
    set: estimates equal true counts and jaccard is exact."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    eid = 0
    for u in range(40):  # viewers: users 0..39
        rows.append((eid, t0, u, "view", 1.0, "{}")); eid += 1
    for u in range(20, 60):  # buyers: users 20..59 (overlap 20..39)
        rows.append((eid, t0, u, "purchase", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    row = kmv_distinct_intersection(spark, str(tmp_path)).collect()[0]
    assert row["est_a"] == row["true_a"] == 40
    assert row["est_b"] == row["true_b"] == 40
    assert row["true_common"] == 20
    assert row["est_union"] == 60
    assert row["n_common"] == 20
    assert row["jaccard_ppm"] == (20 * 1_000_000) // 60
    assert row["est_intersection"] == (20 * 60) // 60 == 20
    con = duckdb_connection(tmp_path)
    orc = con.execute(KMV_ORACLE).fetchdf().iloc[0]
    con.close()
    assert int(orc["est_union"]) == 60 and int(orc["est_intersection"]) == 20
