"""Benchmark runner: one workload, one seed, one fresh Spark process.

Run from the repository root::

    python3 perfbench/run.py --workload registry_floor --seed 1 --seconds 40 --trace 0

It generates the workload's inputs from the seed, takes the set-up time
of several fresh processes, runs the workload in a fresh local[4] Spark
process, checks every output outside the timed region, prints each
metric as ``name value unit`` and ends with one JSON line::

    {"correct": true, "attempted": 15, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
traced run: it reports the per-layer metrics and writes its spans, the
per-layer split and the tracing overhead (its wall time minus the median
untraced wall time recorded so far for the workload) to
``.perfbench_work/traces/``.

Everything a run writes stays under ``.perfbench_work/`` in the working
directory; the run's own directory (inputs, cwd, TMPDIR, Spark local
dirs, outputs) is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import procs  # noqa: E402
from tracing import LAYER_METRICS, TRACE_FILE_ONLY  # noqa: E402

CORES = 4
SETUP_PROBES = 2  # extra set-up-only processes; the worker's own set-up is a third sample
WORKER_TIMEOUT_S = 150

WORKLOADS = {
    # Floor-bound: at sf0.01 a query's time is its Python-side build,
    # Catalyst planning and job scheduling. Thirteen headline queries from
    # different families and two streaming queries (a windowed aggregate
    # and the foreachBatch upsert), each once, cold, in this fixed order.
    "registry_floor": {
        "base": "sf0.01",
        "ops": (
            "q1_pricing_summary",
            "q5_join_chain_revenue",
            "sim_brute_cosine_topk",
            "emb_label_centroids",
            "hll_distinct_users",
            "recursive_cte_key_depths",
            "streaming_hourly_event_counts",
            "ohlc_6h_bars",
            "sessionize_users",
            "fuzzy_part_match_pairs",
            "event_transition_matrix",
            "churn_flags_by_cohort",
            "attribution_first_last_touch",
            "dbscan_grid_roles",
            "streaming_foreachbatch_upsert",
        ),
    },
    # The paper's own workload: the reference 11-node graph over a seeded
    # clip tree, every output written to parquet; an untimed warm-up pass,
    # then two timed passes in the same process (a traced run times one).
    "media_pipeline": {"clips": 4, "frames": 32, "px": 64, "passes": 2},
}
SMOKE = {
    "registry_floor": {
        "base": "sf0.001",
        "ops": ("q1_pricing_summary", "n12_rolling_extent", "bootstrap_ci_order_value_prod",
                "streaming_hourly_event_counts"),
    },
    "media_pipeline": {"clips": 2, "frames": 12, "px": 16, "passes": 2},
}
# Ops of the lists above that write a checkpointed streaming sink.
STREAMING = frozenset({"streaming_hourly_event_counts", "streaming_foreachbatch_upsert"})

def reference_graph(px: int) -> list[dict]:
    """The reference's 11-node clip graph, cropping and rendering at ``px``
    pixels."""
    return [
        {"name": "VideoToImagesNode", "params": {"ext": ".jpg"}},
        {"name": "VideoToWavNode", "params": {}},
        {"name": "Wav2vecNode", "params": {}},
        {"name": "FaceAlignmentNode", "params": {}},
        {"name": "FixedBboxesNode", "params": {"scale": 1.25}},
        {"name": "CropNode", "params": {"size_hw": [px, px]}},
        {"name": "EmocaNode", "params": {}},
        {"name": "FlameNode", "params": {}},
        {"name": "RenderingNode", "params": {"image_size": px}},
        {"name": "A2enDatasetNode", "params": {}},
        {"name": "Vid2vidDatasetNode", "params": {}},
    ]


END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "op_geomean_s": "s",
}


def prepare(args, root: str, run_dir: str) -> dict:
    """Generate the run's inputs and write the worker's config."""
    workload, seed = args.workload, args.seed
    spec = (SMOKE if args.smoke else WORKLOADS)[workload]
    dirs = {k: os.path.join(run_dir, k) for k in ("inputs", "cwd", "tmp", "spark-local", "out")}
    for d in dirs.values():
        os.makedirs(d)
    cfg = {
        "workload": workload,
        "seed": seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "inject_wrong": args.inject_wrong,
        "root": root,
        "cores": CORES,
        "run_id": os.path.basename(run_dir),
        "result": os.path.join(run_dir, "result.json"),
        "out_dir": dirs["out"],
    }
    if workload == "media_pipeline":
        sys.path.insert(0, root)
        from talkinghead_datapipeline_spark.plans.reference_compat import FRAME_BYTES

        clips = os.path.join(dirs["inputs"], "clips")
        cfg["expected_frames"] = inputs.clip_tree(clips, seed, spec["clips"], spec["frames"], FRAME_BYTES)
        cfg.update(clips=clips, graph=os.path.join(run_dir, "graph.json"),
                   passes=1 if args.trace else spec["passes"])
        with open(cfg["graph"], "w") as f:
            json.dump(reference_graph(spec["px"]), f)
    else:
        sf_dir = os.path.join(dirs["inputs"], spec["base"])
        inputs.shifted_tables(spec["base"], sf_dir, seed)
        cfg.update(
            sf_dir=sf_dir,
            inputs_digest=inputs.tree_digest(sf_dir),
            oracle_cache=os.path.join(root, ".perfbench_work", "oracle-cache"),
            order=list(spec["ops"]),
            streaming=sorted(STREAMING),
        )
    with open(os.path.join(run_dir, "config.json"), "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ)
    env.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_MASTER=f"local[{CORES}]",
        PYSPARK_PYTHON=sys.executable,
        # keep the JVM's temp files inside the run directory too
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )
    return {"cfg": cfg, "env": env, "cwd": dirs["cwd"], "path": os.path.join(run_dir, "config.json")}


def _end_session(sid: int) -> None:
    """Kill what is left of a worker's session (its JVM and the JVM's Python
    workers) and wait until all of it has ended. Nothing there needs an
    orderly stop: the run directory is removed afterwards anyway."""
    while pids := procs.session_pids(sid):
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _stop_on_signal(children: set[int]) -> None:
    """When stopped from outside, take each running worker's whole session
    down before exiting."""

    def handler(signum, frame):
        for sid in list(children):
            _end_session(sid)
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, handler)
    signal.signal(signal.SIGINT, handler)


def spawn(prep: dict, log, setup_only: bool, children: set[int]) -> tuple[float, str]:
    """Start a worker in its own session and wait for it; return (spawn
    time, the set-up-only worker's ready line). The worker leaves its JVM
    behind when it exits, so its session is ended here, and a watchdog
    ends it early if the worker overruns."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--config", prep["path"]]
    if setup_only:
        cmd.append("--setup-only")
    t_spawn = time.time()
    proc = subprocess.Popen(
        cmd, cwd=prep["cwd"], env=prep["env"], stdout=subprocess.PIPE if setup_only else log,
        stderr=log, start_new_session=True, text=True,
    )
    children.add(proc.pid)
    watchdog = threading.Timer(WORKER_TIMEOUT_S, _end_session, [proc.pid])
    watchdog.start()
    try:
        line = proc.stdout.readline() if setup_only else ""
        proc.wait()
    finally:
        watchdog.cancel()
        _end_session(proc.pid)
        proc.wait()
        if proc.stdout:
            proc.stdout.close()
        children.discard(proc.pid)
    if proc.returncode != 0:
        raise RuntimeError(f"worker exited with {proc.returncode}")
    return t_spawn, line


def end_to_end(result: dict, setup_samples: list[float]) -> dict:
    times = [op["wall_s"] for op in result["ops"] if "wall_s" in op and "error" not in op] or [result["wall_s"]]
    return {
        "setup_s": statistics.median(setup_samples),
        "wall_s": result["wall_s"],
        "cpu_s": result["cpu_s"],
        "op_geomean_s": math.exp(statistics.fmean(math.log(t) for t in times)),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--inject-wrong", metavar="OP", help="corrupt one op's result (tests the checks)")
    args = ap.parse_args(argv)

    children: set[int] = set()
    _stop_on_signal(children)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "talkinghead_datapipeline_spark", "__init__.py")):
        print("perfbench: talkinghead_datapipeline_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(work, "runs", run_id)
    os.makedirs(run_dir)
    log_path = os.path.join(work, "logs", f"{run_id}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        t0 = time.time()
        prep = prepare(args, root, run_dir)
        phases = {"inputs_s": time.time() - t0}
        with open(log_path, "w") as log:
            setup_samples = []
            for _ in range(SETUP_PROBES):
                t_spawn, line = spawn(prep, log, True, children)
                setup_samples.append(json.loads(line)["ready_at"] - t_spawn)
            phases["probes_s"] = time.time() - t0 - phases["inputs_s"]
            t_spawn, _ = spawn(prep, log, False, children)
            phases["worker_s"] = time.time() - t_spawn
        with open(prep["cfg"]["result"]) as f:
            result = json.load(f)
    except Exception as exc:  # noqa: BLE001
        print(f"perfbench: run failed: {type(exc).__name__}: {exc} (log: {log_path})", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if "crash" in result:
        print(f"perfbench: worker crashed (log: {log_path}):\n{result['crash']}", file=sys.stderr)
        return 1
    setup_samples.append(result["setup"]["ready_at"] - t_spawn)

    ops, failures = result["ops"], result["failures"]
    failed = len({f["op"] for f in failures})
    attempted = len(ops)
    e2e = end_to_end(result, setup_samples)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "smoke": args.smoke,
        "attempted": attempted, "failed": failed, "failures": failures,
        "setup_samples_s": setup_samples,
        "phases_s": {**phases, "check_s": result["check_s"]},
        "end_to_end": e2e, "peak_rss_mb": result["peak_rss_mb"], "passes": result.get("passes"),
        "ops": [{k: op.get(k) for k in ("name", "kind", "wall_s", "build_s")} for op in ops],
    }
    if args.trace:
        untraced = _untraced_walls(work, args.workload, args.smoke)
        record["layers"] = result["layers"]
        record["spans"] = result["spans"]
        record["tracing_overhead_s"] = e2e["wall_s"] - statistics.median(untraced) if untraced else None
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        with open(os.path.join(work, "traces", f"{run_id}.json"), "w") as f:
            json.dump(record, f)
        printed = {k: {"value": result["layers"]["metrics"][k], "unit": u} for k, u in LAYER_METRICS.items()}
        metrics = {k: m for k, m in printed.items() if k not in TRACE_FILE_ONLY}
    else:
        with open(os.path.join(work, "history.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        metrics = printed = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    for k, m in printed.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"failed_frac {failed / attempted if attempted else 1.0:.6g} ratio ({failed}/{attempted})")
    for f in failures:
        print(f"FAILED {f['op']}: {f['reason']}")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _untraced_walls(work: str, workload: str, smoke: bool) -> list[float]:
    walls = []
    try:
        with open(os.path.join(work, "history.jsonl")) as f:
            for line in f:
                r = json.loads(line)
                if r["workload"] == workload and r["smoke"] == smoke:
                    walls.append(r["end_to_end"]["wall_s"])
    except OSError:
        pass
    return walls


if __name__ == "__main__":
    sys.exit(main())
