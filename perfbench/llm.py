"""The ``llm`` workload: the document front door and, in traced runs, a
warm query session over the at-rest indexes the front door feeds."""

from __future__ import annotations

from perfbench import common, front_door, query_mix
from perfbench.trace import Tracer


def run(spark, staged: dict, seconds: float, tracer: Tracer, work: str) -> dict:
    """Front-door micro-batches give throughput (docs/s) and per-doc
    latency from arrival to landing.

    The query session costs a cold pass of about 20 s plus a warm pass
    of about 10 s on a 4-core host, more than the run budget allows on
    every run, so only traced runs make it (its per-query layer
    metrics and oracle check)."""
    fd = front_door.ingest(spark, staged["dir"], staged["front_door"], tracer, work)
    layers = common.progress_metrics(fd["progress"])
    layers.update(fd["layers"])
    result = {
        "warm_s": fd["warm_s"],
        "heap_mb": fd["heap_mb"],
        "attempted": fd["attempted"],
        "throughput": fd["docs_per_s"],
        "latency": fd["freshness"],
        "layers": layers,
        "check": dict(fd["check"]),
        "named": {
            "front_door_docs_per_s": (fd["docs_per_s"], "docs/s"),
            "front_door_batch_s": (fd["batch_s"], "s"),
            "front_door.warm_s": (fd["warm_s"], "s"),
        },
    }
    if tracer.enabled:
        qm = query_mix.run(spark, staged["dir"], staged["tables"], seconds / 2, tracer)
        layers.update(qm["layers"])
        result["attempted"] += qm["attempted"]
        result["check"]["mismatches"] += qm["check"]["mismatches"]
        result["check"]["failed_queries"] = qm["check"]["failed_queries"]
        result["named"]["query_mix_s"] = (qm["pass_s"], "s")
        result["named"]["query_mix.warm_s"] = (qm["warm_s"], "s")
        # overhead compares the front door's replay with its stream;
        # coverage spans the replay and the query passes
        result["traced_wall"] = fd["traced_wall"]
        result["untraced_wall"] = fd["untraced_wall"]
        result["covered_wall"] = fd["replay_wall"] + qm["passes_s"]
    return result
