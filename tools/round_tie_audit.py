"""Cross-engine round()-tie audit over every registered rounded output.

The round-8 margin audits proved Spark F.round (BigDecimal HALF_UP over the
double's exact binary expansion) and DuckDB round are DIFFERENT FUNCTIONS at
exact .5 ties (112/8000 boundary-adjacent doubles disagree), and found two
staged-query outputs sitting exactly ON a tie.  VERDICT r8 #4 asks for the
systematic sweep: every registered ``round(x, k)`` output must either show a
measured distance from its nearest half-boundary or move to floor-to-integer
units.

Method: for each registered query whose DuckDB oracle contains a TWO-ARG
``round(expr, k)``, rewrite that call (and only that call — one-arg
``round(x * 100)`` is input exactification and must stay real) to an
identity macro, run the rewritten oracle at the certification SF, and
measure each unrounded value's exact distance from the nearest
``0.5 * 10^-k`` boundary via Fraction arithmetic on the double's bits.  A
distance of exactly 0 is a live cross-engine tie (fragile greenness — the
r8 class); small-but-nonzero distances are safe for bit-identical inputs
and quantify the safety floor for layout-ordered ones.

The rewrite is arity-aware by paren matching, and the audit maps each
rounded output column to its k via the ``round(..., k) AS name`` pattern;
columns it cannot map are measured against every k appearing in that query
(conservative: may report a thinner margin than real, never a thicker one).

Usage:
    python tools/round_tie_audit.py [--sf-dir /root/testdata/sf0.01]
                                    [--only name1,name2] [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import math
import re
import sys
import time
from fractions import Fraction

sys.path.insert(0, ".")


_AS_RE = re.compile(r"\s*(?:\+\s*0\.0\s*)?AS\s+(\w+)", re.IGNORECASE)


def rewrite_two_arg_round(sql: str) -> tuple[str, list[int], dict[str, int]]:
    """Replace every two-arg ``round(expr, k)`` with ``__nr2(expr, k)``;
    return the rewritten SQL, the list of k values seen, and a column→k
    map for rounds immediately aliased (``round(..., k) [+ 0.0] AS name``
    — handles arbitrary paren nesting, which a regex cannot).  One-arg
    ``round(expr)`` is left untouched.  Arity is determined by counting
    top-level commas inside the matched parens (quote-aware)."""
    out = []
    ks: list[int] = []
    colk: dict[str, int] = {}
    i = 0
    pat = re.compile(r"\bround\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        # scan to the matching close paren
        depth = 1
        j = m.end()
        top_commas = []
        in_str = False
        while j < len(sql) and depth > 0:
            c = sql[j]
            if in_str:
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                top_commas.append(j)
            j += 1
        body = sql[m.end() : j - 1]
        if top_commas:
            k_txt = sql[top_commas[-1] + 1 : j - 1].strip()
            k_val = None
            try:
                k_val = int(k_txt)
                ks.append(k_val)
            except ValueError:
                pass  # non-literal k: still rewritten, measured via all-k
            out.append("__nr2(" + body + ")")
            if k_val is not None:
                am = _AS_RE.match(sql, j)
                if am:
                    colk[am.group(1)] = k_val
        else:
            out.append("round(" + body + ")")
        i = j
    return "".join(out), ks, colk


def tie_distance(x: float, k: int) -> float:
    """Exact distance (in value units) of double x from the nearest
    round-half boundary of the k-decimal grid.  0.0 == x sits exactly ON a
    cross-engine tie."""
    d = Fraction(x) * 10**k
    frac = d - math.floor(d)
    return float(abs(frac - Fraction(1, 2))) / 10**k


def tie_distance_ulps(x: float, k: int) -> float:
    """Margin in units of ulp(x * 10^k) — the resolution at which a
    float-scaling round implementation (DuckDB) sees the boundary.  Below
    ~1 the scaled double collapses onto (or across) the tie even though
    the exact expansion is off it, which is exactly where the two engines'
    round functions can disagree; Spark's BigDecimal round works on the
    exact expansion and has no such window."""
    d = tie_distance(x, k) * 10**k  # distance in grid units
    u = math.ulp(abs(x) * 10**k) or 5e-324
    return d / u


def audit_query(con, name: str, sql: str, time_budget_s: float = 60.0):
    rewritten, ks, colk = rewrite_two_arg_round(sql)
    if not ks and "__nr2(" not in rewritten:
        return None  # no two-arg round anywhere
    t0 = time.time()
    try:
        rel = con.execute(rewritten)
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return {"query": name, "error": str(e).splitlines()[0]}
    if time.time() - t0 > time_budget_s:
        pass  # measured anyway; caller just sees the elapsed time
    ks_all = sorted(set(ks)) or [2, 6]
    per_col: dict[str, dict] = {}
    ties = []
    unmapped_ties = []
    for ci, cname in enumerate(cols):
        vals = [r[ci] for r in rows if isinstance(r[ci], float)]
        if not vals:
            continue
        k_list = [colk[cname]] if cname in colk else ks_all
        for k in k_list:
            fin = [v for v in vals if math.isfinite(v)]
            if not fin:
                continue
            dists = [tie_distance(v, k) for v in fin]
            ulps = [tie_distance_ulps(v, k) for v in fin]
            mn = min(dists)
            key = f"{cname}@k={k}{'' if cname in colk else '?'}"
            per_col[key] = {
                "min_margin": mn,
                "min_margin_ulps": min(ulps),
                "n_vals": len(fin),
                "mapped": cname in colk,
            }
            if mn == 0.0:
                at = [v for v in fin if tie_distance(v, k) == 0.0]
                entry = {"col": cname, "k": k, "values": at[:5]}
                # ADVICE r10: only MAPPED ties (a column actually produced
                # by a round(x, k) call) drive the TIE! tag and the
                # non-zero exit — an unmapped '?' what-if measurement of a
                # floor/integer display whose raw double sits on a .5
                # boundary is the same phantom class the headline fix
                # retired. Unmapped ties stay visible for hand review.
                (ties if cname in colk else unmapped_ties).append(entry)
    if not per_col:
        return None
    # Headline figures come from MAPPED columns only (those tied to an
    # actual round(x, k) call in the oracle). Unmapped '?' entries are
    # speculative what-if measurements of columns with no round at all —
    # e.g. a floor-display migrated off round() would otherwise keep
    # reporting its pre-migration phantom tie (observed round 10 on
    # q1_pricing_summary: a 0.16-ulp headline from sum_charge@k=6? after
    # the column had no round left). They stay in `columns` for reading.
    mapped = {k: v for k, v in per_col.items() if v["mapped"]}
    headline_unmapped = not mapped
    if headline_unmapped:
        # No column could be tied to a round() call (a round nested in a
        # larger expression, or no trailing AS alias). Fall back to the
        # what-if measurements but FLAG it loudly — a headline built only
        # from unmapped columns may be a phantom (a floor display with no
        # round at all) and must be read by hand, not acted on.
        mapped = per_col
    overall = min(v["min_margin"] for v in mapped.values())
    overall_ulps = min(v["min_margin_ulps"] for v in mapped.values())
    return {
        "query": name,
        "min_margin": overall,
        "min_margin_ulps": overall_ulps,
        "headline_unmapped": headline_unmapped,
        "exact_ties": ties,
        "unmapped_ties": unmapped_ties,
        "columns": per_col,
        "elapsed_s": round(time.time() - t0, 2),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--json", default="")
    args = ap.parse_args()

    from talkinghead_datapipeline_spark.queries import all_queries
    from tests.oracle_harness import duckdb_connection

    specs = all_queries()
    names = (
        [n.strip() for n in args.only.split(",") if n.strip()]
        if args.only
        else [n for n, s in specs.items() if s.oracle]
    )

    con = duckdb_connection(args.sf_dir)
    con.execute("CREATE MACRO __nr2(x, k) AS x")

    results, skipped = [], []
    for name in names:
        sql = specs[name].oracle
        if not sql:
            continue
        r = audit_query(con, name, sql)
        if r is None:
            skipped.append(name)
            continue
        results.append(r)
        tag = (
            "TIE!"
            if r.get("exact_ties")
            else ("ERR " if "error" in r else "ok  ")
        )
        mm = r.get("min_margin")
        print(
            f"[{tag}] {name}: min_margin="
            f"{mm:.3e}" if mm is not None else f"[{tag}] {name}: {r.get('error')}",
            flush=True,
        )
    ordered = sorted(
        (r for r in results if "min_margin" in r),
        key=lambda r: r["min_margin_ulps"],
    )
    print(f"\naudited {len(results)} queries with two-arg round "
          f"({len(skipped)} with none); thinnest 12 by ULP margin "
          f"(< ~1 ulp = the scaled double sits on the tie):")
    for r in ordered[:12]:
        print(f"  {r['query']}: {r['min_margin']:.3e} "
              f"({r['min_margin_ulps']:.2f} ulps)"
              + ("  [UNMAPPED-ONLY headline — read columns by hand]"
                 if r.get("headline_unmapped") else "")
              + (f"  EXACT TIES: {r['exact_ties']}" if r["exact_ties"] else "")
              + (f"  unmapped what-if ties (hand review): {r['unmapped_ties']}"
                 if r.get("unmapped_ties") else ""))
    errs = [r for r in results if "error" in r]
    if errs:
        print("errors:", [(r["query"], r["error"]) for r in errs])
    if args.json:
        with open(args.json, "w") as f:
            json.dump(
                {"sf_dir": args.sf_dir, "results": results, "no_round": skipped},
                f,
                indent=1,
            )
    ties = [r for r in ordered if r["exact_ties"]]
    return 1 if ties else 0


if __name__ == "__main__":
    sys.exit(main())
