"""One benchmark run inside a fresh local Spark process.

Started by ``run.py`` with the run's config file; never run by hand. The
process builds its SparkSession and imports the query registry (setup),
runs the workload's operations one after another (the timed region:
each registry query once, cold; the media graph after an untimed warm-up
pass), then checks every result outside the timed region and writes a
result file.

``--setup-only`` stops after setup: ``run.py`` starts it several times to
take the median set-up time.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402
import tracing as tr  # noqa: E402

# Queries without an oracle whose row count must equal their oracle twin's.
ROWS_ONLY_TWIN = {"bootstrap_ci_order_value_prod": "bootstrap_ci_order_value"}
# No query starts after GUARD x --seconds into the timed region: a
# pathological slowdown still ends inside the per-run time limit. Every
# query or graph pass that never started is a failed operation.
GUARD = 2.5
NOT_STARTED = "not started: time guard"


def _peak_rss_mb(spark) -> float:
    """JVM high-water resident set plus this Python process's."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    python_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + python_kb) / 1024


def setup(cfg, tracer):
    """Process start -> SparkSession up and query registry imported."""
    sys.path.insert(0, cfg["root"])
    if tracer:
        tr.install_layer_wrappers(tracer)
    from talkinghead_datapipeline_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    from talkinghead_datapipeline_spark.queries import all_queries

    with tracer.span("queries.import") if tracer else nullcontext():
        specs = all_queries()
    t2 = time.perf_counter()
    return spark, specs, {"ready_at": time.time(), "get_spark_s": t1 - t0, "import_s": t2 - t1}


def run_queries(spark, specs, cfg, tracer) -> tuple[list[dict], dict]:
    """Closed loop, one client: each query once, cold, in the workload's
    order, its result collected into pandas. Returns (ops, results)."""
    sc = spark.sparkContext
    stream = set(cfg["streaming"])
    ops, results = [], {}
    deadline = time.perf_counter() + GUARD * cfg["seconds"]
    for name in cfg["order"]:
        op = {"name": name, "kind": "stream" if name in stream else "batch"}
        ops.append(op)
        if time.perf_counter() >= deadline:
            op["error"] = NOT_STARTED
            continue
        group = f"perfbench:{name}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            if tracer:
                with tracer.span("op", label=name):
                    tracer.in_build = True
                    try:
                        with tracer.span("queries.build"):
                            df = specs[name].spark(spark, cfg["sf_dir"])
                    finally:
                        tracer.in_build = False
                    t1 = time.perf_counter()
                    op["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                    with tracer.span("exec.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec.collect"):
                        pdf = df.toPandas()
            else:
                df = specs[name].spark(spark, cfg["sf_dir"])
                t1 = time.perf_counter()
                pdf = df.toPandas()
            t2 = time.perf_counter()
            op.update(build_s=t1 - t0, wall_s=t2 - t0)
            results[name] = pdf
        except Exception as exc:  # noqa: BLE001 - one failing query is one failed op
            op["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            if tracer:
                op["cached_mb"] = tr.cached_mb(spark)
            # each query starts from an empty cache and collected garbage,
            # so none is billed for an earlier query's leftovers
            spark.catalog.clearCache()
            gc.collect()
    sc.setJobGroup("perfbench:idle", "idle")
    return ops, results


def check_queries(specs, cfg, ops, results) -> list[dict]:
    """Compare every completed query with its DuckDB oracle."""
    import oracle  # pandas/duckdb: imported after the timed region

    ora = oracle.Oracle(cfg["sf_dir"], cfg["inputs_digest"], cfg["oracle_cache"])
    failures = []
    try:
        for op in ops:
            name = op["name"]
            if "error" in op:
                failures.append({"op": name, "reason": op["error"]})
                continue
            pdf = results[name]
            if name == cfg.get("inject_wrong"):
                pdf = pdf.iloc[1:]  # drop a row from the result under test
            twin = ROWS_ONLY_TWIN.get(name)
            sql = specs[twin or name].oracle
            if sql is None:
                failures.append({"op": name, "reason": "no oracle to check against"})
                continue
            reason = oracle.mismatch(oracle.summarize(pdf), ora.summary(sql), rows_only=twin is not None)
            if reason:
                failures.append({"op": name, "reason": reason})
    finally:
        ora.close()
    return failures


def _graph_pass(spark, cfg, out: str, tracer) -> list[dict]:
    """The reference 11-node graph over the seeded clip tree, every output
    written to parquet under ``out`` by the program's own CLI entry point.
    One op per output table, timed by the CLI's own report."""
    from talkinghead_datapipeline_spark import run as cli

    t0 = time.perf_counter()
    try:
        with tracer.span("op", label="pipeline") if tracer else nullcontext():
            report = cli.run(spark, cfg["graph"], {"video": cfg["clips"]}, out)
    except Exception as exc:  # noqa: BLE001 - the graph aborts on its first failing node
        error = f"{type(exc).__name__}: {exc}"[:300]
        return [{"name": "pipeline", "kind": "output", "wall_s": time.perf_counter() - t0, "error": error}]
    ops = []
    for r in report:
        if r["status"] == "input":
            continue
        op = {"name": r["name"], "kind": "output", "wall_s": r["sec"], "rows": r["total"]}
        if r["status"] != "written":
            op["error"] = f"status {r['status']}"
        ops.append(op)
    return ops


def _pass_out(cfg, i: int) -> str:
    return os.path.join(cfg["out_dir"], f"pass{i}")


def run_pipeline(spark, cfg, tracer) -> tuple[list[dict], list[dict]]:
    """One untimed warm-up pass of the graph, then ``cfg["passes"]`` timed
    passes in the same process, one after another, each into its own
    output directory. A cold pass takes twice as long as a warm one,
    mostly JIT compilation, and its time spreads about twice as much run
    to run, so only warm passes are timed. Returns (passes, ops): each
    pass's wall time, CPU time and ops, and per output the median of its
    times over the passes.
    No pass starts after GUARD x --seconds into the timed region; each op
    of a pass that never started is a failed op."""
    spark.sparkContext.setJobGroup("perfbench:pipeline", "pipeline")
    t_warm = time.perf_counter()
    warm = _graph_pass(spark, cfg, os.path.join(cfg["out_dir"], "warmup"), None)
    spark.catalog.clearCache()
    gc.collect()
    if tracer:  # the layer metrics describe the timed passes only
        tracer.discard_since(t_warm)
        tracer.marks = tr.status_marks(spark)
    sid = os.getsid(0)
    passes = []
    deadline = time.perf_counter() + GUARD * cfg["seconds"]
    for i in range(cfg["passes"]):
        if time.perf_counter() >= deadline:
            passes.append({"ops": [{"name": op["name"], "kind": "output", "error": NOT_STARTED} for op in warm]})
            continue
        cpu0, t0 = procs.session_cpu_s(sid), time.perf_counter()
        ops = _graph_pass(spark, cfg, _pass_out(cfg, i), tracer)
        wall, cpu = time.perf_counter() - t0, procs.session_cpu_s(sid) - cpu0
        passes.append({"wall_s": wall, "cpu_s": cpu, "ops": ops})
        spark.catalog.clearCache()
        gc.collect()
    ops = []
    for first in passes[0]["ops"]:
        same = [op for p in passes for op in p["ops"] if op["name"] == first["name"]]
        op = {"name": first["name"], "kind": "output"}
        errors = [o["error"] for o in same if "error" in o]
        if errors:
            op["error"] = errors[0]
        else:
            op["wall_s"] = statistics.median(o["wall_s"] for o in same)
        ops.append(op)
    return passes, ops


def check_pipeline(cfg, passes) -> list[dict]:
    """Read every timed pass's outputs back from their parquet files: each
    holds its expected grain (Σframes rows if it has a ``frame_idx`` column,
    else one row per clip) and the row count the program reported, and
    a2en's per-clip ``n_frames`` equal the generated frame counts. A frame
    missing from a frame-grain table is a frame the inference error channel
    diverted. One failure per output, naming the first pass it failed in."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    expected = cfg["expected_frames"]
    n_frames, n_clips = sum(expected.values()), len(expected)
    failures = {}
    for i, p in enumerate(passes):
        names = {op["name"] for op in p["ops"]}
        for op in p["ops"] + ([] if "a2en" in names else [{"name": "a2en", "error": "output missing"}]):
            name = op["name"]
            if name in failures:
                continue
            if "error" in op:
                failures[name] = op["error"]
                continue
            data = ds.dataset(os.path.join(_pass_out(cfg, i), f"{name}.parquet"), format="parquet")
            rows = data.count_rows()
            if name == cfg.get("inject_wrong"):
                rows += 1  # one row too many in the output under test
            want = n_frames if "frame_idx" in data.schema.names else n_clips
            reason = None
            if rows != want:
                reason = f"{rows} rows read back, expected {want}"
            elif op["rows"] != rows:
                reason = f"reported {op['rows']} rows, read back {rows}"
            elif name == "a2en":
                t = pq.read_table(data.files, columns=["clip_name", "n_frames"]).to_pydict()
                got = dict(zip(t["clip_name"], t["n_frames"]))
                if got != expected:
                    bad = sorted(k for k in set(got) | set(expected) if got.get(k) != expected.get(k))
                    reason = f"n_frames differ for {bad[:3]}"
            if reason:
                failures[name] = f"pass {i}: {reason}"
    return [{"op": k, "reason": v} for k, v in failures.items()]


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / tr.MB


def layer_metrics(spark, cfg, tracer, ops, wall) -> dict:
    self_t = tracer.self_times()
    ex = tr.stage_totals(spark, tracer.marks)
    py = tr.python_udf_totals(spark, tracer.marks)
    st = tr.streaming_totals(tracer)
    outputs = [op for op in ops if op["kind"] == "output" and "error" not in op]
    frames = sum(cfg.get("expected_frames", {}).values())
    m = {
        "session.get_spark_s": tracer.total("session.get_spark"),
        "queries.import_s": tracer.total("queries.import"),
        "queries.build_s": tracer.total("queries.build"),
        "queries.py4j_calls": tracer.counts["py4j"],
        "queries.build_jobs": sum(op.get("build_jobs", 0) for op in ops),
        "catalog.load_table_calls": tracer.counts["catalog.load_table"],
        "catalog.load_table_s": tracer.total("catalog.load_table"),
        "catalog.persist_calls": tracer.counts["catalog.persist_once"],
        "exec.cached_mb": max([op.get("cached_mb", 0.0) for op in ops] + [0.0]),
        "exec.plan_s": tracer.total("exec.plan"),
        "exec.idle_core_frac": 1 - ex.get("task_run_s", 0.0) / (wall * cfg["cores"]),
        "operators.inference.python_rows": py["python_rows"],
        "operators.inference.python_mb": py["python_mb"],
        "operators.inference.rows_per_frame": py["rows_per_frame"],
        "plans.build_s": tracer.total("plans.build"),
        "run.write_s": sum(op["wall_s"] for op in outputs),
        "run.outputs_written": len(outputs),
        "run.rows_written": sum(op["rows"] for op in outputs),
        "run.bytes_written_mb": _dir_mb(_pass_out(cfg, cfg["passes"] - 1)) if outputs else 0.0,
        "run.frames_per_s": frames / wall if outputs else 0.0,
        "sources.scan_s": tracer.total("sources.scan"),
        "streaming.query_wall_s": sum(op.get("wall_s", 0.0) for op in ops if op["kind"] == "stream"),
    }
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
              "spill_mb", "input_mb", "single_task_stage_s"):
        m[f"exec.{k}"] = ex.get(k, 0.0)
    for k in ("batches", "trigger_s", "add_batch_s", "wal_commit_s", "planning_s", "state_rows"):
        m[f"streaming.{k}"] = st.get(k, 0.0)
    return {"metrics": m, "self_s": self_t}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()
    with open(args.config) as f:
        cfg = json.load(f)
    tracer = tr.Tracer(cfg["run_id"]) if cfg["trace"] and not args.setup_only else None
    spark, specs, info = setup(cfg, tracer)
    if args.setup_only:
        print(json.dumps(info), flush=True)
        # no orderly stop: run.py ends the JVM with the rest of the session
        os._exit(0)
    result = {"setup": info}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if tracer:
            tracer.marks = tr.status_marks(spark)
            tr.add_streaming_listener(spark, tracer)
        cpu0 = procs.session_cpu_s(os.getsid(0))
        t0 = time.perf_counter()
        if cfg["workload"] == "media_pipeline":
            passes, ops = run_pipeline(spark, cfg, tracer)
            layer_ops = passes[-1]["ops"]
            timed = [p for p in passes if "wall_s" in p]
            result["passes"] = [{k: p[k] for k in ("wall_s", "cpu_s")} for p in timed]
        else:
            ops, results = run_queries(spark, specs, cfg, tracer)
            layer_ops, timed = ops, None
        if timed:  # media_pipeline: the median timed pass
            wall = statistics.median(p["wall_s"] for p in timed)
            cpu = statistics.median(p["cpu_s"] for p in timed)
        else:
            wall = time.perf_counter() - t0
            cpu = procs.session_cpu_s(os.getsid(0)) - cpu0
        result.update(ops=ops, wall_s=wall, cpu_s=cpu, peak_rss_mb=_peak_rss_mb(spark))
        if tracer:
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            result["layers"] = layer_metrics(spark, cfg, tracer, layer_ops, wall)
            result["spans"] = tracer.spans
        t_check = time.perf_counter()
        if cfg["workload"] == "media_pipeline":
            result["failures"] = check_pipeline(cfg, passes)
        else:
            result["failures"] = check_queries(specs, cfg, ops, results)
        result["check_s"] = time.perf_counter() - t_check
    except Exception:  # noqa: BLE001 - reported to run.py, which fails the run
        result["crash"] = traceback.format_exc()[-2000:]
    finally:
        with open(cfg["result"], "w") as f:
            json.dump(result, f)
    os._exit(0)  # as in --setup-only


if __name__ == "__main__":
    main()
