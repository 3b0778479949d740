"""Benchmark entry point.

    python3 perfbench/run.py --workload orders_backfill --seed 1 --seconds 10 --trace 0

Stages the workload's inputs from the seed in a separate process, builds
the engine's session at ``local[4]``, warms up, measures for
``--seconds``, checks the outputs and prints, last, one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``perfbench/metrics.py`` and ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import common, llm, orders  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

CORES = 4

WORKLOADS = {"orders": orders.run, "llm": llm.run}


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def program_present() -> bool:
    import importlib.util

    return importlib.util.find_spec("spark_streaming_kafka2elasticsearch_spark") is not None


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start()
    t_wall0, t_perf0 = time.time(), time.perf_counter()
    ap = argparse.ArgumentParser(description="streaming ETL benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print("perfbench: the program (spark_streaming_kafka2elasticsearch_spark) "
              "is not in this checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(common.WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    common.prepare_env(os.path.join(run_dir, "tmp"))
    input_dir = os.path.join(run_dir, "input")
    work = os.path.join(run_dir, "work")
    os.makedirs(work)

    with common.MemorySampler() as mem:
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--out", input_dir],
            env=dict(os.environ, OMP_NUM_THREADS="1"),
        )
        t0 = time.perf_counter()
        try:
            spark = common.build(CORES)
            build_s = time.perf_counter() - t0
        finally:
            gen.wait()  # never leave the generator running
        if gen.returncode != 0:
            print("perfbench: input generation failed", file=sys.stderr)
            spark.stop()
            return 1
        with open(os.path.join(input_dir, "manifest.json")) as fh:
            staged = json.load(fh)
        staged["dir"] = input_dir
        tracer = Tracer(enabled=bool(args.trace))
        t_work = time.perf_counter()
        try:
            res = WORKLOADS[args.workload](spark, staged, args.seconds, tracer, work)
        finally:
            spark.stop()
        try:
            if args.trace and args.workload == "orders":
                res["layers"]["orders_backfill.scaling"] = orders.scaling(
                    common.build, res["backlog"], res["backfill_eps"], work)
        finally:
            common.stop_jvm()
    # process start to the first timed operation: interpreter, session,
    # staging, then every phase's warm-up
    setup_s = (t_work - t_perf0) + (t_wall0 - t_proc) + res["warm_s"]
    check = res["check"]
    failed = int(check["mismatches"] > 0)
    attempted = int(res["attempted"]) + 1  # the correctness check itself
    lat = res["latency"]

    print(f"# workload {args.workload} seed {args.seed} params "
          f"{json.dumps(staged['params'], sort_keys=True)}")
    print(f"# check {json.dumps(check, sort_keys=True)}")
    print(f"# memory outside_heap_peak_mb {mem.peak_mb:.1f} live_heap_mb {res['heap_mb']:.1f}")
    for name, (value, unit) in res["named"].items():
        print(f"# {name} {value:.6g} {unit}")

    if args.trace:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update({k: v for k, v in res["layers"].items() if k in values})
        if args.workload == "orders":
            values["streaming.sinks.lww_violations"] = float(check["lww_violations"])
        # one micro-batch or query pass per layer time; a workload's own
        # figure for a name wins
        self_times = tracer.median_self_times()
        for name, s in self_times.items():
            if f"{name}_s" in values and f"{name}_s" not in res["layers"]:
                values[f"{name}_s"] = s
        values["session.build_s"] = build_s
        values["session.warm_s"] = res["warm_s"]
        values["trace.coverage"] = tracer.coverage(res.get("covered_wall", res["traced_wall"]))
        values["trace.overhead_s"] = res["traced_wall"] - res["untraced_wall"]
        values["failed_frac"] = failed / attempted
        traces = os.path.join(common.WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}-{tracer.run_id}.jsonl"))
        totals = tracer.self_times()
        for name in sorted(self_times):
            print(f"# self {name} median {self_times[name]:.4f} s total {totals[name]:.4f} s")
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in values.items()}
    else:
        values = {
            "setup_s": setup_s,
            "throughput_per_s": res["throughput"],
            "latency_p50_s": common.percentile(lat, 50),
            "latency_p90_s": common.percentile(lat, 90),
            # peak memory outside the heap plus the live heap
            "peak_mem_mb": mem.peak_mb + res["heap_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in values.items()}
    for k, m in metrics.items():
        print(f"# {k} {m['value']:.6g} {m['unit']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
