"""A warm, closed-loop query session over the registry.

One client runs ``QUERIES`` back to back, each timed from construction
to the end of a noop-sink write.  The first (cold) pass collects every
result and compares it with the query's DuckDB oracle; it is set-up, not
measured.  Warm passes repeat until the run's time is up.  The spans around
construction and execution are the only tracing, so the passes are
timed with them on.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

from perfbench import common
from perfbench.trace import Tracer

#: one query per layer only this phase reaches: the at-rest IVF index
#: (vector_index/similarity), the BM25 index, the dedup graph loop and
#: the KN-LM index gate across the Python boundary
QUERIES = (
    "ann_ivf_persisted_topk",
    "bm25_index_serve_topk",
    "near_dup_clusters",
    "kn_lm_index_gate_served",
)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon():
    """``canon`` from the repository's oracle gate, loaded by path; the
    module prepends its own checkout path to ``sys.path``, undone here."""
    path = os.path.join(common.REPO, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.canon


def same_result(scols, srows, ocols, orows, canon) -> bool:
    """Order-insensitive equality in the oracle gate's canonical form."""
    if sorted(scols) != sorted(ocols) or len(srows) != len(orows):
        return False
    cols = sorted(scols)
    si = [scols.index(c) for c in cols]
    oi = [ocols.index(c) for c in cols]
    return canon([[r[i] for i in si] for r in srows], cols) == canon(
        [[r[i] for i in oi] for r in orows], cols)


def _job_counts(sc, group: str) -> tuple[int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def run(spark, root: str, manifest: dict, seconds: float, tracer: Tracer) -> dict:
    import duckdb

    from spark_streaming_kafka2elasticsearch_spark.queries import all_oracles, all_queries
    from spark_streaming_kafka2elasticsearch_spark.session import release_cached_state

    sf_dir = os.path.normpath(os.path.join(root, manifest["dir"]))
    fns, oracles = all_queries(), all_oracles()
    sc = spark.sparkContext
    t_warm = time.perf_counter()

    # cold pass: collect, compare with the oracle (set-up and the check)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    canon = _canon()
    bad = []
    for q in QUERIES:
        df = fns[q](spark, sf_dir)
        srows, scols = df.collect(), df.columns
        release_cached_state(spark)
        res = con.sql(oracles[q])
        if not same_result(scols, srows, [d[0] for d in res.description], res.fetchall(), canon):
            bad.append(q)
    con.close()
    warm_s = time.perf_counter() - t_warm

    per_q: dict[str, list[tuple[float, float]]] = {q: [] for q in QUERIES}
    jobs: dict[str, tuple[int, int]] = {}

    def one_pass(n: int, tr: Tracer) -> float:
        total = 0.0
        for q in QUERIES:
            group = f"perfbench-{n}-{q}"
            sc.setJobGroup(group, q)
            with tr.span(q):
                t0 = time.perf_counter()
                with tr.span(f"{q}.construct"):
                    df = fns[q](spark, sf_dir)
                t1 = time.perf_counter()
                with tr.span(f"{q}.execute"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            release_cached_state(spark)
            per_q[q].append((t1 - t0, t2 - t1))
            jobs[q] = _job_counts(sc, group)
            total += t2 - t0
        return total

    passes = []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        passes.append(one_pass(len(passes), tracer))
    n = len(passes)
    layers: dict[str, float] = {}
    for q in QUERIES:
        layers[f"{q}.construct_s"] = common.median(c for c, _ in per_q[q])
        layers[f"{q}.execute_s"] = common.median(e for _, e in per_q[q])
        layers[f"{q}.jobs"] = float(jobs[q][0])
        layers[f"{q}.tasks"] = float(jobs[q][1])
    result = {
        "warm_s": warm_s,
        "attempted": len(QUERIES) * (n + 1),
        "latency": [c + e for q in QUERIES for c, e in per_q[q]],
        "pass_s": common.median(passes),
        "passes_s": sum(passes),
        "layers": layers,
        "check": {"mismatches": len(bad), "failed_queries": bad},
    }
    return result
