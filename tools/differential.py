"""Spark-vs-DuckDB differential over the query registry and its fixture
transforms.

Every cell compares two frames with ``tests.oracle_harness.compare_frames``:

- fixture cells: the query on each ``--sf-dir``, and on a key-shifted xN
  replica of the first one per ``--replicas N``, against its DuckDB oracle
  on the same tables (a query without an oracle only has its rows counted);
- invariance cells (``--invariance``): the query on a 4-file split of the
  first ``--sf-dir``, with 7 shuffle partitions, and with AQE flipped,
  against its own frame on the first ``--sf-dir``.

Usage:
    python tools/differential.py [NAME | PATTERN | module.path:func:ORACLE ...]
        [--sf-dir DIR ...] [--replicas N ...] [--invariance] [--limit N]

NAME and fnmatch PATTERN select registered queries (all by default);
``module.path:func:ORACLE_CONST`` selects an unregistered query. ``--limit N``
keeps the first N registered queries in registry order. ``--sf-dir``
defaults to the test suite's fixture. Replicas are built once, then reused,
under ``$SPARK_LOCAL_DIRS`` (or /tmp) as ``x{N}_differential``. Prints one
line per cell, then a JSON summary; exits 1 on any mismatch or error.
"""

from __future__ import annotations

import argparse
import fnmatch
import functools
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from talkinghead_datapipeline_spark.queries import all_queries  # noqa: E402
from tests.oracle_harness import (  # noqa: E402
    build_replica,
    compare_frames,
    conf_axes,
    oracle_frame,
    write_split_fixture,
)


def select_queries(tokens: list[str], limit: int | None) -> dict:
    """name -> (spark_fn, oracle SQL or None), registry order first."""
    specs = all_queries()
    staged = [t for t in tokens if t.count(":") == 2]
    patterns = [t for t in tokens if t not in staged] or ([] if staged else ["*"])
    unmatched = [p for p in patterns if not fnmatch.filter(specs, p)]
    if unmatched:
        raise SystemExit(f"no registered query matches {unmatched}")
    names = [n for n in specs if any(fnmatch.fnmatchcase(n, p) for p in patterns)]
    out = {n: (specs[n].spark, specs[n].oracle) for n in names[:limit]}
    for token in staged:
        mod_name, fn_name, oracle_name = token.split(":")
        mod = importlib.import_module(mod_name)
        out[fn_name] = (getattr(mod, fn_name), getattr(mod, oracle_name))
    return out


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", action="append", dest="sf_dirs")
    ap.add_argument("--replicas", action="append", type=int, default=[])
    ap.add_argument("--invariance", action="store_true")
    ap.add_argument("--limit", type=int)
    args = ap.parse_args(argv)
    if not args.sf_dirs:
        from tests.conftest import TEST_SF_DIR

        args.sf_dirs = [TEST_SF_DIR]
    queries = select_queries(args.names, args.limit)
    if spark is None:
        from talkinghead_datapipeline_spark.session import get_spark

        spark = get_spark(app_name="differential")
        spark.sparkContext.setLogLevel("ERROR")

    t_start = time.time()
    base_dir = args.sf_dirs[0]
    local = os.environ.get("SPARK_LOCAL_DIRS", "/tmp").split(",")[0]
    fixtures = [(os.path.basename(os.path.normpath(d)), d) for d in args.sf_dirs]
    for n in args.replicas:
        out = os.path.join(local, f"x{n}_differential")
        fixtures.append((f"x{n}", build_replica(spark, base_dir, out, n)))
    if args.invariance:
        os.makedirs(local, exist_ok=True)
        split_dir = tempfile.mkdtemp(prefix="differential_split_", dir=local)
        write_split_fixture(spark, base_dir, split_dir)

    summary = {"checked": 0, "mismatches": [], "errors": [], "rows_only": []}
    for name, (fn, oracle) in queries.items():

        def run(sf_dir, *axes):
            with conf_axes(spark, *axes):
                return fn(spark, sf_dir).toPandas()

        # the base frame serves its own oracle cell and every invariance cell
        base = functools.cache(lambda: run(base_dir))
        cells = [
            (label, base if d == base_dir else functools.partial(run, d),
             oracle and functools.partial(oracle_frame, d, oracle))
            for label, d in fixtures
        ]
        if args.invariance:
            cells += [
                ("split", functools.partial(run, split_dir), base),
                ("partitions", functools.partial(run, base_dir, "partitions"), base),
                ("aqe", functools.partial(run, base_dir, "aqe"), base),
            ]
        for label, got_fn, want_fn in cells:
            summary["checked"] += 1
            t0 = time.time()
            # a cached frame would replay under a flipped conf axis
            spark.catalog.clearCache()
            try:
                got = got_fn()
                if want_fn is None:
                    summary["rows_only"].append([name, label])
                    status = f"ROWS {len(got)}"
                else:
                    res = compare_frames(name, got, want_fn())
                    status = "OK" if res.ok else "MISMATCH " + "; ".join(res.mismatches[:3])
                    if not res.ok:
                        summary["mismatches"].append([name, label, res.mismatches[:3]])
            except Exception as exc:  # noqa: BLE001 — report and go on
                err = f"{type(exc).__name__}: {exc}"[:300]
                summary["errors"].append([name, label, err])
                status = "ERROR " + err
            print(f"{name} @ {label} {status} ({time.time() - t0:.1f}s)", flush=True)
    if args.invariance:
        shutil.rmtree(split_dir)
    summary["total_s"] = round(time.time() - t_start, 1)
    print(json.dumps(summary), flush=True)
    return 1 if summary["mismatches"] or summary["errors"] else 0


if __name__ == "__main__":
    sys.exit(main())
