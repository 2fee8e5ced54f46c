"""Per-brand 2-D Pareto skyline (STAGED for r15).

Oracle differential (window identity vs the textbook NOT EXISTS dominance
predicate — genuinely different formulations), an independent Python
brute-force dominance recompute from the raw fixture, crafted corpora
pinning the tie semantics (exact duplicates both survive; equal-price
strictly-smaller is dominated; equal-size strictly-pricier is dominated),
and the skyline contract (output is a maximal antichain: no output point
dominates another, every non-output point is dominated by some output
point).
"""

from __future__ import annotations


from talkinghead_datapipeline_spark.queries.relational import (
    PARETO_SKYLINE_ORACLE,
    pareto_skyline_parts,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "pareto_skyline_parts", pareto_skyline_parts,
        PARETO_SKYLINE_ORACLE,
    )
    assert res.ok, res.mismatches


def _dominates(b, a):
    """b dominates a: weakly better on both axes, strictly on one."""
    return (
        b[0] <= a[0]
        and b[1] >= a[1]
        and (b[0] < a[0] or b[1] > a[1])
    )


def test_matches_independent_python_bruteforce(spark, sf_dir):
    """Recompute the skyline from the raw part fixture with the O(n²)
    definition in plain Python — a third code path sharing neither the
    window identity nor the SQL NOT EXISTS shape."""
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_size", "p_retailprice"
    ).toPandas()
    pdf["price_cents"] = (pdf.p_retailprice * 100).round().astype("int64")
    expect = set()
    for brand, grp in pdf.groupby("p_brand"):
        pts = list(
            zip(grp.price_cents, grp.p_size.astype("int64"), grp.p_partkey)
        )
        for a in pts:
            if not any(_dominates(b, a) for b in pts if b is not a):
                expect.add((brand, int(a[2]), int(a[1]), int(a[0])))
    got = {
        (r["p_brand"], r["p_partkey"], r["size"], r["price_cents"])
        for r in pareto_skyline_parts(spark, sf_dir).collect()
    }
    assert got == expect


def _write_part(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )


def _oracle_rows(tmp_path):
    con = duckdb_connection(tmp_path)
    rows = con.execute(PARETO_SKYLINE_ORACLE).fetchall()
    con.close()
    return rows


def test_crafted_tie_semantics(spark, tmp_path):
    """Pins the three tie cases on BOTH engines:
    - parts 1 and 2: exact (price, size) duplicates -> both survive;
    - part 3: equal price to 1/2 but strictly smaller -> dominated;
    - part 4: equal size to 1/2 but strictly pricier -> dominated;
    - part 5: strictly cheaper and strictly smaller -> survives
      (incomparable with 1/2);
    - part 6 (other brand): never compared across brands -> survives."""
    _write_part(
        spark, tmp_path,
        [
            (1, "a", "B1", "t", 10, 5.00),
            (2, "b", "B1", "t", 10, 5.00),
            (3, "c", "B1", "t", 9, 5.00),
            (4, "d", "B1", "t", 10, 5.01),
            (5, "e", "B1", "t", 3, 4.00),
            (6, "f", "B2", "t", 1, 99.00),
        ],
    )
    expect = {
        ("B1", 1, 10, 500),
        ("B1", 2, 10, 500),
        ("B1", 5, 3, 400),
        ("B2", 6, 1, 9900),
    }
    got = {
        (r["p_brand"], r["p_partkey"], r["size"], r["price_cents"])
        for r in pareto_skyline_parts(spark, str(tmp_path)).collect()
    }
    assert got == expect
    assert {tuple(r) for r in _oracle_rows(tmp_path)} == {
        (b, k, s, c) for (b, k, s, c) in expect
    }


def test_skyline_is_maximal_antichain(spark, sf_dir):
    """No output point dominates another output point of the same brand
    (antichain), and spot-checks maximality: every skyline point's
    strictly-better quadrant is empty in the full table."""
    from talkinghead_datapipeline_spark.catalog import load_table

    rows = pareto_skyline_parts(spark, sf_dir).collect()
    assert rows, "fixture must produce a non-empty skyline"
    by_brand = {}
    for r in rows:
        by_brand.setdefault(r["p_brand"], []).append(
            (r["price_cents"], r["size"])
        )
    for pts in by_brand.values():
        for a in pts:
            assert not any(
                _dominates(b, a) for b in pts if b != a
            ), "skyline output contains a dominated point"
    # maximality: brand-wise min price and max size are always on the
    # skyline (each is undominatable on its axis, ties resolved by the
    # per-price max rule)
    pdf = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_size", "p_retailprice"
    ).toPandas()
    pdf["price_cents"] = (pdf.p_retailprice * 100).round().astype("int64")
    for brand, grp in pdf.groupby("p_brand"):
        pts = by_brand[brand]
        min_price = int(grp.price_cents.min())
        max_size = int(grp.p_size.max())
        assert any(p == min_price for p, _ in pts)
        assert any(s == max_size for _, s in pts)
