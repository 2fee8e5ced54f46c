"""Max-gap sequential pattern support (STAGED for r15).

Oracle differential, an independent dict-loop Python recompute from the
raw fixture, and a crafted corpus pinning the gap semantics on both
engines: strict order (equal timestamps excluded — the ×4/×16
duplicate-ts regime), inclusive 3600s boundary (3600 in, 3601 out),
intermediate events allowed (non-adjacent pairs count), and distinct-
user support vs pair count divergence.
"""

from __future__ import annotations

import datetime as dt


from talkinghead_datapipeline_spark.queries.behavior import (
    _SEQ_GAP_US,
    SEQ_PATTERN_ORACLE,
    seq_pattern_maxgap_support,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "seq_pattern_maxgap_support",
        seq_pattern_maxgap_support, SEQ_PATTERN_ORACLE,
    )
    assert res.ok, res.mismatches


def test_matches_independent_python(spark, sf_dir):
    from collections import defaultdict

    from talkinghead_datapipeline_spark.catalog import load_table

    import numpy as np

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).toPandas()
    unit = np.datetime_data(ev["ts"].dtype)[0]
    div = {"ns": 1000, "us": 1}[unit]
    ev["us"] = ev["ts"].astype("int64") // div
    by_user = defaultdict(list)
    for r in ev.itertuples():
        by_user[int(r.user_id)].append((int(r.us), r.event_type))
    n_pairs = defaultdict(int)
    users = defaultdict(set)
    for uid, rows in by_user.items():
        rows.sort()
        for i, (ua, ta) in enumerate(rows):
            for ub, tb in rows[i + 1:]:
                if ub <= ua:
                    continue  # strict order: equal ts excluded
                if ub - ua > _SEQ_GAP_US:
                    break
                n_pairs[(ta, tb)] += 1
                users[(ta, tb)].add(uid)
    expect = {
        k: (n_pairs[k], len(users[k])) for k in n_pairs
    }
    got = {
        (r["etype_a"], r["etype_b"]): (r["n_pairs"], r["n_users"])
        for r in seq_pattern_maxgap_support(spark, sf_dir).collect()
    }
    assert got == expect


def test_crafted_gap_semantics(spark, tmp_path):
    t0 = dt.datetime(2026, 1, 1)

    def at(seconds):
        return t0 + dt.timedelta(seconds=seconds)

    rows = [
        # user 1: view @0, click @10, purchase @3600 (inclusive boundary
        # from the view AND from the click; non-adjacent view->purchase
        # must count even with the click in between)
        (1, at(0), 1, "view", 1.0, "{}"),
        (2, at(10), 1, "click", 1.0, "{}"),
        (3, at(3600), 1, "purchase", 1.0, "{}"),
        # user 2: view @0, purchase @3601 -> OUTSIDE the gap
        (4, at(0), 2, "view", 1.0, "{}"),
        (5, at(3601), 2, "purchase", 1.0, "{}"),
        # user 3: view and purchase at the SAME timestamp -> excluded
        (6, at(100), 3, "view", 1.0, "{}"),
        (7, at(100), 3, "purchase", 1.0, "{}"),
        # user 4: two views then one purchase within gap -> 2 pairs, 1 user
        (8, at(0), 4, "view", 1.0, "{}"),
        (9, at(5), 4, "view", 1.0, "{}"),
        (10, at(50), 4, "purchase", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        (r["etype_a"], r["etype_b"]): (r["n_pairs"], r["n_users"])
        for r in seq_pattern_maxgap_support(spark, str(tmp_path)).collect()
    }
    # view->purchase: user1 (boundary-inclusive, non-adjacent) + user4's
    # two view events -> 3 pairs across 2 users; users 2 (gap) and 3
    # (equal ts) contribute nothing
    assert got[("view", "purchase")] == (3, 2)
    assert got[("view", "click")] == (1, 1)
    assert got[("click", "purchase")] == (1, 1)
    assert got[("view", "view")] == (1, 1)  # user4's view@0 -> view@5
    assert ("purchase", "view") not in got
    con = duckdb_connection(tmp_path)
    orc = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(SEQ_PATTERN_ORACLE).fetchall()
    }
    con.close()
    assert orc == got
